package graft.queries

/** GENERATED committed decode state for q218 — the quantized luminance
  * grids of [[graft.operators.Multimodal.syntheticJpegTable]](6) decoded
  * through the JDK's JPEG (DCT) codec. Same legitimacy class as
  * [[graft.queries.Extensions.imageDecodePins]] / PinnedPqCodebooks:
  * regenerated from the live codec and asserted bit-equal by
  * ExtensionsSpec every test run; regenerate with
  * `sbt "runMain graft.ml.PinMain jpeg"` if the spec flags drift. */
object JpegDecodePins {
  val pins: Seq[(Long, String, Int, Int, Int, Int, Long)] = Seq(
    (0L, "jpeg", 16, 8, 1, 0, 6932938L), (0L, "jpeg", 16, 8, 1, 1, 7270128L),
    (0L, "jpeg", 16, 8, 1, 2, 7747127L), (0L, "jpeg", 16, 8, 1, 3, 8191229L),
    (0L, "jpeg", 16, 8, 1, 4, 8536642L), (0L, "jpeg", 16, 8, 1, 5, 8960186L),
    (0L, "jpeg", 16, 8, 1, 6, 9428960L), (0L, "jpeg", 16, 8, 1, 7, 9766150L),
    (1L, "jpeg", 24, 16, 1, 0, 24269394L), (1L, "jpeg", 24, 16, 1, 1, 24947882L),
    (1L, "jpeg", 24, 16, 1, 2, 25535910L), (1L, "jpeg", 24, 16, 1, 3, 26366544L),
    (1L, "jpeg", 24, 16, 1, 4, 21925520L), (1L, "jpeg", 24, 16, 1, 5, 22632794L),
    (1L, "jpeg", 24, 16, 1, 6, 23081012L), (1L, "jpeg", 24, 16, 1, 7, 23669036L),
    (2L, "jpeg", 32, 8, 1, 0, 16752544L), (2L, "jpeg", 32, 8, 1, 1, 16863570L),
    (2L, "jpeg", 32, 8, 1, 2, 17459820L), (2L, "jpeg", 32, 8, 1, 3, 17583182L),
    (2L, "jpeg", 32, 8, 1, 4, 17879250L), (2L, "jpeg", 32, 8, 1, 5, 18175320L),
    (2L, "jpeg", 32, 8, 1, 6, 18500172L), (2L, "jpeg", 32, 8, 1, 7, 16407132L),
    (3L, "jpeg", 16, 16, 1, 0, 18372700L), (3L, "jpeg", 16, 16, 1, 1, 13771300L),
    (3L, "jpeg", 16, 16, 1, 2, 14815763L), (3L, "jpeg", 16, 16, 1, 3, 15095385L),
    (3L, "jpeg", 16, 16, 1, 4, 15954804L), (3L, "jpeg", 16, 16, 1, 5, 16694975L),
    (3L, "jpeg", 16, 16, 1, 6, 17418698L), (3L, "jpeg", 16, 16, 1, 7, 17998502L),
    (4L, "jpeg", 24, 8, 1, 0, 14392218L), (4L, "jpeg", 24, 8, 1, 1, 14643055L),
    (4L, "jpeg", 24, 8, 1, 2, 12751505L), (4L, "jpeg", 24, 8, 1, 3, 13080473L),
    (4L, "jpeg", 24, 8, 1, 4, 13388877L), (4L, "jpeg", 24, 8, 1, 5, 13635600L),
    (4L, "jpeg", 24, 8, 1, 6, 14005685L), (4L, "jpeg", 24, 8, 1, 7, 14207177L),
    (5L, "jpeg", 32, 16, 1, 0, 35191036L), (5L, "jpeg", 32, 16, 1, 1, 30655430L),
    (5L, "jpeg", 32, 16, 1, 2, 31745126L), (5L, "jpeg", 32, 16, 1, 3, 31794468L),
    (5L, "jpeg", 32, 16, 1, 4, 32411280L), (5L, "jpeg", 32, 16, 1, 5, 32929398L),
    (5L, "jpeg", 32, 16, 1, 6, 33603776L), (5L, "jpeg", 32, 16, 1, 7, 34228812L))
}

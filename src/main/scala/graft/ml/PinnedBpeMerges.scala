package graft.ml

/** The q167 encoder's committed BPE merge table (deterministic
  * 24-merge fit on sf0.01 documents): (a, b) in rank order, the rank-r
  * merge rewrites adjacent (a, b) to a+b. BpeSpec retrains and asserts
  * exact equality.
  * GENERATED by `runMain graft.ml.PinMain bpe`; do not hand-edit. */
private[graft] object PinnedBpeMerges {
  val values: Seq[(String, String)] = Seq(
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("j", "o"),
    ("jo", "in"),
    ("a", "s"),
    ("as", "h"),
    ("h", "ash"),
    ("r", "ow"),
    ("at", "c"),
    ("atc", "h"),
    ("b", "atch"),
    ("a", "n"),
    ("c", "an"),
    ("s", "can"),
    ("c", "o"),
    ("c", "u"),
  )
}

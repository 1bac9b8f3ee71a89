package graft.streaming

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}

/** A single retail purchase line (realtime/InvoicePipeline.scala:25-32). */
final case class Purchase(
    invoiceNo: String,
    quantity: Int,
    invoiceDate: String,
    unitPrice: Double,
    customerID: String,
    country: String)

/** One routed stream element: either a good purchase or an invoice-keyed
  * parse error. Flat struct-with-nulls instead of a sealed trait so the
  * Dataset encoder stays Catalyst-native (SURVEY.md §1.1). */
final case class LineEvent(
    invoiceNo: String,
    purchase: Option[Purchase],
    errorReason: Option[String])

/** CSV parse + routing for the raw purchase-line wire format (F3, quirk Q4).
  *
  * Wire format: headerless 8-field CSV, quoted fields may embed commas
  * (FIXTURES.md §1). Field positions 0,3,4,5,6,7 feed the pipeline
  * (realtime/InvoicePipeline.scala:86-101).
  *
  * Routing faithfully reproduces quirk Q4 (InvoicePipeline.scala:161-181):
  * only failures whose reason starts with "parse error:" enter the pipeline
  * as error events; empty lines, short rows ("malformed purchase line") and
  * parser exceptions are silently dropped.
  *
  * This is genuine per-record imperative logic (try/catch classification on
  * a hand-rolled wire format), so it runs as a typed `Dataset.flatMap` — the
  * one deliberate non-codegen stage in the stream; everything downstream is
  * relational again.
  */
object PurchaseCsv {

  sealed trait Parsed
  final case class Good(purchase: Purchase) extends Parsed
  /** `routed=false` failures are quirk-Q4 silent drops. */
  final case class Bad(key: String, reason: String, routed: Boolean) extends Parsed

  // One parser per JVM; univocity parsers are not thread-safe, so give each
  // executor thread its own.
  private val parserTl: ThreadLocal[CsvParser] = ThreadLocal.withInitial { () =>
    val settings = new CsvParserSettings()
    settings.getFormat.setLineSeparator("\n")
    settings.setIgnoreLeadingWhitespaces(true)
    settings.setIgnoreTrailingWhitespaces(true)
    settings.setQuoteDetectionEnabled(true)
    new CsvParser(settings)
  }

  def parse(line: String): Parsed = {
    if (line == null || line.trim.isEmpty) return Bad("UNKNOWN", "empty line", routed = false)
    val fields =
      try parserTl.get.parseLine(line)
      catch { case e: Exception => return Bad("UNKNOWN", s"parser exception: ${e.getMessage}", routed = false) }
    if (fields == null || fields.length < 8) {
      val key = if (fields != null && fields.nonEmpty && fields(0) != null) fields(0) else "UNKNOWN"
      return Bad(key, "malformed purchase line", routed = false)
    }
    try Good(Purchase(
      invoiceNo = fields(0),
      quantity = fields(3).toInt,
      invoiceDate = fields(4),
      unitPrice = fields(5).toDouble,
      customerID = fields(6),
      country = fields(7)))
    catch {
      case e: Exception => Bad(fields(0), s"parse error: ${e.getMessage}", routed = true)
    }
  }

  /** Q4 routing: Good → purchase event; routed Bad → error event;
    * silent-drop Bad → None. */
  def route(line: String): Option[LineEvent] = parse(line) match {
    case Good(p)                  => Some(LineEvent(p.invoiceNo, Some(p), None))
    case Bad(key, reason, true)   => Some(LineEvent(key, None, Some(reason)))
    case Bad(_, _, false)         => None
  }

  /** F2: hour of "M/d/yyyy H:mm", -1.0 when unparsable
    * (InvoicePipeline.scala:495-498). */
  def extractHour(invoiceDate: String): Double = {
    if (invoiceDate == null) return -1.0
    val parts = invoiceDate.split(" ")
    if (parts.length < 2) return -1.0
    val hour = parts(1).split(":")(0)
    try hour.toDouble
    catch { case _: Exception => -1.0 }
  }
}

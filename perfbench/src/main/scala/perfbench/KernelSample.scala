package perfbench

import graft.boiler.Boilerplate
import graft.classify.Detector
import graft.extract.{DocParser, Processor}
import graft.html.{BlockSegmenter, Dom, HtmlTokenizer}
import graft.model.{ExtractionRecord, KernelPage, SlimRecord}
import graft.pdf.PdfParser
import graft.text.Charsets
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Single-thread timings, in the driver, of the kernel's sub-layers over
  * the workload's url sample. Every pass runs over the same docs; after
  * a warm-up the passes run in rotated order, and each layer reports the
  * median of its rounds. All per-doc figures divide by the sample size,
  * so the sub-layers and the leftover add up to `extract.ns_per_doc`.
  */
object KernelSample {
  val WarmRounds = 2
  val Rounds = 5
  @volatile private var sink: Long = 0L

  def run(spans: Spans, sample: Seq[KernelPage], quality: String, slim: Boolean): Map[String, Double] = {
    val docs = sample.toArray
    val n = docs.length.toDouble
    val html = docs.filter(p => p.html != null && p.html.nonEmpty && !PdfParser.isPdf(p.html))
    val pdf = docs.filter(p => p.html != null && PdfParser.isPdf(p.html))
    val decoded = html.map(p => Charsets.decode(p.html))
    val parsed = docs.flatMap(p => DocParser.parse(p.html).toOption)
    val classified = parsed.map(d => (d, Detector.default.classify(d)))
    val proc = Processor.default
    val ocrPages = classified.flatMap { case (d, c) =>
      (1 to d.totalPages).filter(pg => proc.pageNeedsOcr(pg, c, quality)).map(pg => d.pages(pg - 1))
    }
    val records = docs.map(p => proc.extract(p, quality))
    val encode: () => Unit =
      if (slim) {
        val ser = ExpressionEncoder[SlimRecord]().createSerializer()
        val rs = records.map(_.toSlim)
        () => rs.foreach(r => sink += ser(r).numFields)
      } else {
        val ser = ExpressionEncoder[ExtractionRecord]().createSerializer()
        () => records.foreach(r => sink += ser(r).numFields)
      }

    val passes: Vector[(String, () => Unit)] = Vector(
      "decode" -> (() => html.foreach(p => sink += Charsets.decode(p.html).length)),
      "tokenize" -> (() => decoded.foreach(s => sink += HtmlTokenizer.tokenize(s).length)),
      "dom" -> (() => decoded.foreach(s => sink += Dom.parse(s).children.length)),
      "segment" -> (() => decoded.foreach(s => sink += BlockSegmenter.parseHtml(s).totalPages)),
      "pdf" -> (() => pdf.foreach(p => sink += PdfParser.parse(p.html).fold(_.length, _.totalPages))),
      "classify" -> (() => parsed.foreach(d => sink += Detector.default.classify(d).total_pages)),
      "boiler" -> (() => ocrPages.foreach(pg => sink += Boilerplate.default.extract(pg).length)),
      "extract" -> (() => docs.foreach(p => sink += proc.extract(p, quality).word_count)),
      "encode" -> encode)

    val ns = passes.map(_._1 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    for (r <- 0 until WarmRounds + Rounds) {
      val order = passes.drop(r % passes.length) ++ passes.take(r % passes.length)
      order.foreach { case (name, f) =>
        val (_, secs) = spans.timed(s"sample.$name")(f())
        if (r >= WarmRounds) ns(name) += secs * 1e9
      }
    }
    val m = ns.map { case (k, v) => k -> Stats.median(v.toSeq) }
    val attempted = records.map(_.attempted_pages.toLong).sum
    val successful = records.map(_.successful_pages.toLong).sum
    val layers = m("decode") + m("segment") + m("pdf") + m("classify") + m("boiler")
    Map(
      "text.decode_ns_per_doc" -> m("decode") / n,
      "html.tokenize_ns_per_doc" -> m("tokenize") / n,
      "html.dom_ns_per_doc" -> (m("dom") - m("tokenize")) / n,
      "html.segment_ns_per_doc" -> (m("segment") - m("dom")) / n,
      "pdf.parse_ns_per_doc" -> m("pdf") / n,
      "pdf.parse_errors" -> pdf.count(p => PdfParser.parse(p.html).isLeft).toDouble,
      "html.parse_errors" -> html.count(p => DocParser.parse(p.html).isLeft).toDouble,
      "classify.ns_per_doc" -> m("classify") / n,
      "boiler.ns_per_page" -> (if (ocrPages.isEmpty) 0.0 else m("boiler") / ocrPages.length),
      "extract.ns_per_doc" -> m("extract") / n,
      "extract.sublayer_leftover_frac" -> (m("extract") - layers) / m("extract"),
      "extract.ocr_success_ratio" -> (if (attempted == 0) 1.0 else successful.toDouble / attempted),
      "model.encode_ns_per_row" -> m("encode") / n,
      "sample.docs" -> n)
  }
}

package graft.perfbench

import graft.core.{Boilerplate, Confidence, Consensus, LangDetect, TextClean, XYCut}
import graft.media.{DeterministicMediaStore, DeterministicOcr, PageMedia}
import graft.model.{Doc, UnitOut}
import graft.pipeline.{ExtractConf, ExtractKernel}

/** Single-threaded per-layer cost of the extraction kernel over a list of
  * docs. `doc_us` is `ExtractKernel.extractWhole` per doc; every component
  * is timed in bulk over the inputs that `extractWhole` hands it for the
  * same docs, and also reported per doc, so the components add up against
  * `doc_us` and the remainder is a named number. */
final class KernelLayers(docs: IndexedSeq[Doc], conf: ExtractConf, reps: Int = 3) {
  private val store = DeterministicMediaStore
  private val engine = DeterministicOcr
  private val passes = ExtractConf.passesFor(conf.level)

  /** Median seconds of `reps` passes of `body`, after one untimed pass. */
  private def time(body: => Unit): Double = {
    body
    val xs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.sorted
    xs(xs.length / 2)
  }

  /** One media page the kernel decodes. */
  private final case class PageRef(ref: String, page: Int)

  def measure(): Map[String, (Double, String)] = {
    val n = docs.length.toDouble
    val us = (s: Double) => s * 1e6 / n
    val docS = time(docs.foreach(d => ExtractKernel.extractWhole(d, store, engine, conf)))

    var units: IndexedSeq[(String, Seq[graft.model.WorkUnit])] = null
    val planS = time { units = docs.map(d => d.doc_id -> ExtractKernel.plan(d, store, conf)) }

    // The kernel's inputs per component, built the way rawPages walks a unit.
    val pageRefs = IndexedSeq.newBuilder[PageRef]
    val htmlTexts = IndexedSeq.newBuilder[String]
    for ((_, us) <- units; u <- us; s <- u.spans) {
      val noMedia = s.media_ref == null || s.media_ref.isEmpty
      s.kind match {
        case "pdf" if !noMedia =>
          val (from, to) = if (u.pageFrom > 0) (u.pageFrom, u.pageTo) else (1, store.pageCount(s.media_ref))
          (from to to).foreach(p => pageRefs += PageRef(s.media_ref, p))
        case "image" if !noMedia => pageRefs += PageRef(s.media_ref, 1)
        case "html" => htmlTexts += (if (s.text == null) "" else s.text)
        case _ =>
      }
    }
    val refs = pageRefs.result()
    val htmls = htmlTexts.result()

    var media: IndexedSeq[PageMedia] = null
    val pageS = time { media = refs.map(r => store.page(r.ref, r.page)) }
    // XYCut runs inside MediaStore.page; time it alone so decode excludes it.
    val xycutS = time(media.foreach(m => XYCut.readingOrder(m.layout)))
    var ocrOut: IndexedSeq[Seq[String]] = null
    val ocrS = time {
      ocrOut = media.map(m => if (passes == 1) Seq(engine.recognize(m, 0)) else (0 until passes).map(engine.recognize(m, _)))
    }
    val boilerS = time(htmls.foreach(Boilerplate.extract))
    val multi = ocrOut.filter(_.length > 1)
    val consensusS = time(multi.foreach(Consensus.merge))
    val confidenceS = time(multi.foreach(Confidence.pairwise))

    // Clean sees every page text: merged OCR, boilerplate output, raw text.
    val texts: IndexedSeq[String] =
      ocrOut.map(p => if (p.length == 1) p.head else Consensus.merge(p)) ++ htmls.map(Boilerplate.extract) ++
        (for ((_, us) <- units; u <- us; s <- u.spans if s.kind == "text") yield s.text)
    val cleanS = time(texts.foreach(TextClean.clean))

    val outs: IndexedSeq[(String, Seq[UnitOut])] =
      units.map { case (id, us) => id -> us.map(ExtractKernel.extractUnit(_, store, engine, conf)) }
    val mergeAllS = time(outs.foreach { case (id, us) => ExtractKernel.merge(id, us) })
    val joined = outs.map { case (_, us) => us.sortBy(_.salt).flatMap(_.pages).sortBy(p => (p.in_offset, p.page)).map(_.text).mkString(" ") }
    val langS = time(joined.foreach(LangDetect.detect))

    val components = Seq(
      "plan" -> planS, "decode" -> math.max(0.0, pageS - xycutS), "xycut" -> xycutS, "ocr" -> ocrS,
      "boilerplate" -> boilerS, "consensus" -> consensusS, "confidence" -> confidenceS,
      "clean" -> cleanS, "langdetect" -> langS, "merge" -> math.max(0.0, mergeAllS - langS))
    val attributed = components.map(_._2).sum
    components.map { case (k, s) => s"kernel.${k}_us" -> (us(s), "us") }.toMap ++ Map(
      "kernel.doc_us" -> (us(docS), "us"),
      "kernel.unattributed_us" -> (us(docS - attributed), "us"),
      "kernel.attributed_share" -> (attributed / docS, "share"),
      "kernel.docs" -> (n, "count"),
      "kernel.pages" -> (texts.length.toDouble, "count"),
      "kernel.ocr_passes" -> (ocrOut.map(_.length).sum.toDouble, "count"),
      "kernel.multi_pass_pages" -> (multi.length.toDouble, "count"))
  }
}

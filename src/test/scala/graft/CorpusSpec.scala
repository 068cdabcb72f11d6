package graft

import graft.corpus.{CorpusConfig, CorpusGen, CorpusTables}
import graft.model.Span
import org.scalatest.funsuite.AnyFunSuite

/** Per-row span-sequence invariant (BASELINE.json input_hint): the Spark
 * table's span sequence equals the pure-generator ground truth on
 * (kind, text, media_ref, order) for EVERY document. */
class CorpusSpec extends AnyFunSuite {

  private val cfg = CorpusConfig(seed = 42L, numHosts = 20, maxPages = 40)

  test("robotsForHostName ≡ the robotsTable map for every corpus host and junk names") {
    val rcfg = CorpusConfig(seed = 42L, numHosts = 37, maxPages = 40,
      robotsEveryNthHost = 4)
    val table = CorpusGen.robotsTable(rcfg)
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for (h <- 0 until rcfg.numHosts) {
      val name = CorpusGen.hostName(h)
      assert(CorpusGen.robotsForHostName(rcfg, name) == table.getOrElse(name, Nil),
        s"host $name")
    }
    // names the map never contained must get Nil, like getOrElse did
    for (junk <- Seq(null, "", "h.example", "hx7.example", "h12.other",
        s"h${rcfg.numHosts}.example", "h-1.example", "h999999999999.example",
        "example", "h0.exampleX", "h00.example", "h04.example"))
      assert(CorpusGen.robotsForHostName(rcfg, junk).isEmpty, s"junk $junk")
  }

  test("span-sequence equality across the whole corpus (kind, text, media_ref, order)") {
    val spark = SparkSuite.spark
    import spark.implicits._
    val got = CorpusTables.documents(spark, cfg).collect()
      .map(d => d.doc_id -> d.spans).toMap
    val want = CorpusGen.allPageIds(cfg).map { case (h, p) =>
      CorpusGen.pageUrl(h, p) -> CorpusGen.pageSpans(cfg, h, p)
    }.toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, spans) =>
      assert(got(id) == spans, s"span mismatch for $id")
    }
  }

  test("offsets are dense and ordered; kinds valid") {
    CorpusGen.allPageIds(cfg).foreach { case (h, p) =>
      val spans = CorpusGen.pageSpans(cfg, h, p)
      assert(spans.map(_.offset) == spans.indices.map(identity))
      assert(spans.forall(s => Set(Span.Text, Span.Media, Span.Link).contains(s.kind)))
      // text spans carry no media_ref; media spans carry no text; links carry both
      spans.foreach {
        case Span(Span.Text, t, m, _) => assert(t.nonEmpty && m.isEmpty)
        case Span(Span.Media, t, m, _) => assert(t.isEmpty && m.nonEmpty)
        case Span(Span.Link, _, m, _) => assert(m.nonEmpty)
        case other => fail(s"unexpected span $other")
      }
    }
  }

  test("generation is partitioning-invariant (pure function of cfg)") {
    val spark = SparkSuite.spark
    val a = CorpusTables.documents(spark, cfg).repartition(1).collect().sortBy(_.doc_id)
    val b = CorpusTables.documents(spark, cfg).repartition(7).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
  }

  test("resolvePage classifies indices of any length by magnitude") {
    import CorpusGen.PageLookup.{Found, NotFound, Unreachable}
    def at(u: String) = CorpusGen.resolvePage(cfg, u)
    assert(at("http://h3.example/p1") == Found(3, 1))
    assert(at("http://h" + "0" * 21 + "3.example/p1") == Found(3, 1)) // leading zeros
    // host index past numHosts ⇒ Unreachable, whatever its length
    for (d <- Seq(18, 19, 20, 40))
      assert(at("http://h" + "9" * d + ".example/p1") == Unreachable, s"$d-digit host")
    assert(at("http://h" + "9" * 40 + ".example/p" + "9" * 40) == Unreachable)
    // page index past pageCount ⇒ NotFound, whatever its length
    assert(at("http://h3.example/p" + "9" * 40) == NotFound)
    // no digits ⇒ not a corpus url
    assert(at("http://h.example/p1") == NotFound)
    assert(at("http://h3.example/p") == NotFound)
  }

  test("zipf host sizes and deterministic seeds") {
    assert(CorpusGen.pageCount(cfg, 0) == 40)
    assert(CorpusGen.pageCount(cfg, 1) == 20)
    assert(CorpusGen.pageCount(cfg, 19) == 2)
    assert(CorpusGen.seeds(cfg, 2) == Seq("http://h0.example/p0", "http://h1.example/p0"))
  }
}

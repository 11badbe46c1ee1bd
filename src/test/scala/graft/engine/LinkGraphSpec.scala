package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Link extraction + host-graph PageRank: href scan cases, relative/scheme
  * resolution rules, hand-computed rank vectors (incl. the dangling-mass
  * case), and mass conservation.
  */
class LinkGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("Html.links: quoting styles, case, entities, non-anchor tags, malformed tails") {
    val html = """<html><body>
      |<a href="https://a.example/x?p=1&amp;q=2">one</a>
      |<A HREF='https://b.example/y'>two</A>
      |<a class="z" href=/rel/path>three</a>
      |<area href="https://not-an-anchor.example/">skip</area>
      |<a name="no-href">four</a>
      |<abbr title="a tag starting with a but not an anchor">x</abbr>
      |<a href="#frag">five</a>
      |<a href="mailto:u@h.tld">six</a>
      |<!-- <a href="https://commented.example/">gone</a> -->
      |<script>var s = '<a href="https://script.example/">gone</a>';</script>
      |<a data-href="/trap" href="/real">seven</a>
      |<a title="a>b" href="/k">eight</a>
      |<a href="https://tail.example/unterminated""".stripMargin
    val got = graft.core.Html.links(html)
    // the final anchor's quoted value is unterminated — no crawl target
    assert(got == Vector(
      "https://a.example/x?p=1&q=2",
      "https://b.example/y",
      "/rel/path",
      "#frag",
      "mailto:u@h.tld",
      "/real",
      "/k"))
  }

  private def page(url: String, hrefs: String*): (String, Array[Byte]) =
    (url, hrefs.map(h => s"""<a href="$h">l</a>""").mkString("<html><body>", " ", "</body></html>")
      .getBytes("UTF-8"))

  test("hostEdges: absolute/relative/protocol-relative/scheme filtering, multiplicity") {
    import spark.implicits._
    val pages = Seq(
      page("https://src.example/p", "https://a.example/1", "https://a.example/2",
        "/local", "//proto.example/x", "mailto:u@h", "javascript:void(0)", "#top",
        "ftp://files.example/f", "HTTPS://UPPER.example:8080/q"),
      page("https://other.example/p", "https://a.example/1")
    ).toDF("url", "html")
    val edges = LinkGraph.hostEdges(pages, "url", "html")
      .groupBy("src_host", "dst_host").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(edges == Set(
      ("src.example", "a.example", 2L),      // multiplicity preserved
      ("src.example", "src.example", 1L),    // /local resolves to source host
      ("src.example", "proto.example", 1L),  // protocol-relative takes its own host
      ("src.example", "upper.example", 1L),  // case + port normalization
      ("other.example", "a.example", 1L)))
  }

  test("pageRank: hand-computed 3-node graph, 2 iterations") {
    import spark.implicits._
    // A->B, A->C, B->C, C->A; d=0.85, uniform start 1/3
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"))
      .toDF("src_host", "dst_host")
    val got = LinkGraph.pageRank(edges, iters = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val third = 1.0 / 3
    // r1(A)=.05+.85*third  r1(B)=.05+.85*third/2  r1(C)=.05+.85*(third/2+third)
    val r1a = 0.05 + 0.85 * third
    val r1b = 0.05 + 0.85 * (third / 2)
    val r1c = 0.05 + 0.85 * (third / 2 + third)
    assert(math.abs(got("A") - (0.05 + 0.85 * r1c)) < 1e-9)
    assert(math.abs(got("B") - (0.05 + 0.85 * (r1a / 2))) < 1e-9)
    assert(math.abs(got("C") - (0.05 + 0.85 * (r1a / 2 + r1b))) < 1e-9)
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "rank mass must be conserved")
  }

  test("pageRank: dangling mass redistributes uniformly") {
    import spark.implicits._
    val edges = Seq(("A", "B")).toDF("src_host", "dst_host") // B dangles
    val got = LinkGraph.pageRank(edges, iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // dm = r0(B) = .5; r1(A)=.075+.85*(.5/2)=.2875; r1(B)=.075+.85*(.5+.25)=.7125
    assert(math.abs(got("A") - 0.2875) < 1e-12)
    assert(math.abs(got("B") - 0.7125) < 1e-12)
  }

  test("pageRank: driver fast path matches the distributed rounds within 1e-12") {
    import spark.implicits._
    // duplicate edges are deliberate: both paths must count them in
    // out-degree AND contributions
    val edges = Seq(("A", "B"), ("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"),
      ("D", "A")).toDF("src_host", "dst_host")
    val fast = LinkGraph.pageRank(edges, iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    spark.conf.set("spark.graft.pagerank.localMaxEdges", "0")
    val dist =
      try LinkGraph.pageRank(edges, iters = 3)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      finally spark.conf.unset("spark.graft.pagerank.localMaxEdges")
    assert(fast.keySet == dist.keySet)
    fast.keySet.foreach { h =>
      assert(math.abs(fast(h) - dist(h)) < 1e-12, s"host $h: ${fast(h)} vs ${dist(h)}")
    }
  }

  test("pageRank: zero iterations returns the uniform vector; empty graph is empty") {
    import spark.implicits._
    val edges = Seq(("A", "B")).toDF("src_host", "dst_host")
    val r0 = LinkGraph.pageRank(edges, iters = 0)
      .collect().map(r => r.getDouble(1))
    assert(r0.length == 2 && r0.forall(v => math.abs(v - 0.5) < 1e-15))
    val empty = Seq.empty[(String, String)].toDF("src_host", "dst_host")
    assert(LinkGraph.pageRank(empty, iters = 3).count() == 0)
  }
}

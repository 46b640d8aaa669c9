package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.report.ReportSink

class ReportSinkSpec extends AnyFunSuite with SparkSuite {

  test("renders an escaped, bounded HTML table") {
    import spark.implicits._
    val df = Seq(("<b>acme</b>", 3L), ("safe & sound", 1L))
      .toDF("company", "hits")
    val html = ReportSink.render(df, "Exposure <Report>")
    assert(html.contains("&lt;b&gt;acme&lt;/b&gt;"))
    assert(html.contains("safe &amp; sound"))
    assert(html.contains("<title>Exposure &lt;Report&gt;</title>"))
    assert(html.contains("<th>company</th><th>hits</th>"))
    assert(html.contains("2 rows"))
  }

  test("maxRows bounds the render") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i, s"row$i")).toDF("i", "v")
    val html = ReportSink.render(df.orderBy($"i"), "t", maxRows = 5)
    assert(html.contains("5 rows") && !html.contains("row6"))
  }

  // ---- per-entity report template (reference tool.py:131-351) ----

  import ReportSink.{ScoreSpec, SummarySpec}

  private def fixture = {
    import spark.implicits._
    Seq(
      ("Acme <Corp>", Some(1.25), Some(0.5), Some(3L),
        Some("risk summary for acme"), Some("response & plan")),
      ("Bolt", None, Some(2.0), None, None, Some("bolt responds")),
      ("Core", Some(0.0), None, Some(7L), Some("core risk"), None))
      .toDF("entity_name", "net_score", "risk_score", "n_docs_risk",
        "risk_summary", "response_summary")
  }

  private val scoreRows = Seq(
    Seq(ScoreSpec("net_score", "Net Score")),
    Seq(ScoreSpec("risk_score", "Risk Score"),
      ScoreSpec("n_docs_risk", "Nb Documents Risk")))
  private val summaries = Seq(
    SummarySpec("risk_summary", "Disruption Risk"),
    SummarySpec("response_summary", "Response"))
  private val definitions = Seq(
    "Net Score" -> "risk minus response, normalized.",
    "Risk Score" -> "document count over watchlist mean.")

  private def count(html: String, needle: String): Int =
    needle.r.findAllMatchIn(html).length

  test("entity report: one block per entity with the reference's structure") {
    val html = ReportSink.entityReport(fixture, "AI Disruption <Risk>",
      definitions, "All Companies", scoreRows, summaries,
      reportDate = "August 14, 2026")
    // document chrome
    assert(html.contains("<title>AI Disruption &lt;Risk&gt;</title>"))
    assert(html.contains("""<div class="report-date">August 14, 2026</div>"""))
    // definitions section: one <p><strong> per definition inside its box
    assert(count(html, """<p class="report-section-title">Score Definitions</p>""") == 1)
    assert(html.contains("<p><strong>Net Score</strong>: risk minus response, normalized.</p>"))
    // section title + one report-entity block per input row
    assert(count(html, """<p class="report-section-title">All Companies</p>""") == 1)
    assert(count(html, "<div class='report-entity'>") == 3)
    assert(count(html, "<h3>") == 3 && html.contains("<h3>Acme &lt;Corp&gt;</h3>"))
    // score box: one per entity, two score rows each (3 entities × 2)
    assert(count(html, """<div class="report-score-box">""") == 3)
    assert(count(html, """<div class="score-row">""") == 6)
    // a multi-spec row joins its label:value cells with " / " INSIDE one
    // <p> (reference tool.py:186-200) — never a textual slash between
    // paragraphs
    assert(count(html, """<div class="score-row"><p>""") == 6)
    assert(!html.contains("</p> / <p>"))
    assert(count(html,
      """<strong>Risk Score:</strong> [^<]* / <strong>Nb Documents Risk:</strong>""") == 3)
    // criterion boxes: 2 per entity, with h4 titles
    assert(count(html, """<div class="report-criterion-box">""") == 6)
    assert(count(html, "<h4>Disruption Risk</h4>") == 3)
  }

  test("entity report: value formatting — %.2f floats, raw ints, N/A nulls") {
    val html = ReportSink.entityReport(fixture, "t", definitions, "s",
      scoreRows, summaries, reportDate = "August 14, 2026")
    assert(html.contains("<strong>Net Score:</strong> 1.25"))
    assert(html.contains("<strong>Risk Score:</strong> 0.50"))
    assert(html.contains("<strong>Net Score:</strong> 0.00"))
    assert(html.contains("<strong>Nb Documents Risk:</strong> 3")
      && html.contains("<strong>Nb Documents Risk:</strong> 7"))
    // Bolt: null net_score and null n_docs → N/A in both rows
    assert(count(html, "<strong>Net Score:</strong> N/A") == 1)
    assert(count(html, "<strong>Nb Documents Risk:</strong> N/A") == 1)
    // null summaries fall back to the reference's fixed sentence
    assert(count(html, "No relevant content was retrieved.") == 2)
    // present summaries render escaped
    assert(html.contains("<p>response &amp; plan</p>"))
  }

  test("entity report: sectionFor orders/limits and titles like the reference") {
    val (topDf, topTitle) =
      ReportSink.sectionFor(fixture, "risk_score", "Risk Score", "top", 2)
    assert(topTitle == "Top 2 Companies for Risk Score")
    // pandas NaN-last semantics in both directions: Core (null) never
    // outranks a scored entity
    assert(topDf.collect().map(_.getString(0)).toSeq == Seq("Bolt", "Acme <Corp>"))
    val (botDf, botTitle) =
      ReportSink.sectionFor(fixture, "risk_score", "Risk Score", "bottom", 1)
    assert(botTitle == "Bottom 1 Companies for Risk Score")
    assert(botDf.collect().map(_.getString(0)).toSeq == Seq("Acme <Corp>"))
    val (allDf, allTitle) =
      ReportSink.sectionFor(fixture, "risk_score", "Risk Score", "all", 99)
    assert(allTitle == "")
    assert(allDf.collect().map(_.getString(0)).toSeq
      == Seq("Acme <Corp>", "Bolt", "Core"))
    intercept[IllegalArgumentException] {
      ReportSink.sectionFor(fixture, "risk_score", "Risk Score", "sideways", 1)
    }
  }

  test("entity report: NaN scores order last and render N/A (pandas parity)") {
    import spark.implicits._
    val df = Seq(("NanCo", Double.NaN), ("Low", 0.5), ("High", 2.0))
      .toDF("entity_name", "risk_score")
    // Spark's raw desc would rank NaN FIRST; pandas puts it last
    val (topDf, _) = ReportSink.sectionFor(df, "risk_score", "Risk", "top", 3)
    assert(topDf.collect().map(_.getString(0)).toSeq
      == Seq("High", "Low", "NanCo"))
    val (botDf, _) = ReportSink.sectionFor(df, "risk_score", "Risk", "bottom", 3)
    assert(botDf.collect().map(_.getString(0)).toSeq
      == Seq("Low", "High", "NanCo"))
    val html = ReportSink.entityReport(df, "t", definitions, "s",
      Seq(Seq(ScoreSpec("risk_score", "Risk Score"))), Nil,
      reportDate = "August 14, 2026")
    assert(count(html, "<strong>Risk Score:</strong> N/A") == 1
      && !html.contains("NaN"))
  }

  test("entity report: maxEntities throws rather than truncates") {
    intercept[IllegalArgumentException] {
      ReportSink.entityReport(fixture, "t", definitions, "s", scoreRows,
        summaries, maxEntities = 2)
    }
  }

  test("entity report renders the real pipeline output end-to-end") {
    // the reference feeds display_report with the per-company basket +
    // response-coalesce result; drive the same shape from the engine's own
    // gated queries on real testdata — one entity block per basket row,
    // every coalesced response present
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val exposure = SparkEntry.queries("q_outer_merge_indicator")(spark, d)
    val responses = SparkEntry.queries("q_response_coalesce")(spark, d)
    val joined = exposure.join(responses, Seq("entity_name"), "left")
    val n = joined.count()
    assert(n > 0 && n <= 200)
    val (sect, sTitle) = ReportSink.sectionFor(joined, "provider_cnt",
      "Provider Mentions", "top", 10)
    val html = ReportSink.entityReport(sect, "Exposure Report",
      definitions = Seq("Provider Mentions" -> "distinct provider chunks"),
      sectionTitle = sTitle,
      scoreRows = Seq(Seq(ScoreSpec("provider_cnt", "Provider Mentions"),
        ScoreSpec("adopter_cnt", "Adopter Mentions"))),
      summaries = Seq(SummarySpec("response", "Response")),
      reportDate = "August 14, 2026")
    assert(count(html, "<div class='report-entity'>") == 10)
    assert(html.contains("<p class=\"report-section-title\">Top 10 Companies for Provider Mentions</p>"))
    // every rendered entity's coalesced response text appears in its box
    val top10 = sect.limit(10).select(col("response")).collect()
      .map(_.getString(0))
    assert(top10.forall(r => r == null || html.contains(
      r.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;"))))
  }

  test("entity report: writes to disk") {
    val p = tempDir("report").resolve("r.html")
    ReportSink.writeEntityReport(fixture, "t", definitions, "s", scoreRows,
      summaries, p.toString)
    val html = java.nio.file.Files.readString(p)
    assert(html.startsWith("<!DOCTYPE html>") &&
      count(html, "<div class='report-entity'>") == 3)
  }

  /** Structural element inventory of a rendered report: per-class div
    * counts plus headers, quote-agnostic (nbconvert re-renders the
    * reference's single-quoted attributes as double-quoted). */
  private def inventory(html: String): Map[String, Int] = {
    def c(re: String) = re.r.findAllMatchIn(html).length
    Map(
      "container" -> c("""<div class=["']report-container["']>"""),
      "date" -> c("""<div class=["']report-date["']>"""),
      "section-box" -> c("""<div class=["']report-section-box["']>"""),
      "section-title" -> c("""<p class=["']report-section-title["']>"""),
      "entity" -> c("""<div class=["']report-entity["']>"""),
      "score-box" -> c("""<div class=["']report-score-box["']>"""),
      "score-row" -> c("""<div class=["']score-row["']>"""),
      "flex" -> c("""<div class=["']report-flex-container["']>"""),
      "criterion" -> c("""<div class=["']report-criterion-box["']>"""),
      "h1" -> c("<h1>"), "h3" -> c("<h3>"), "h4" -> c("<h4>"))
  }

  test("entity report: element inventory matches the reference's golden " +
      "rendered run") {
    // the reference checks in a rendered report (the trailing <html>
    // document inside the notebook export). Parse ITS element inventory,
    // build an equivalent fixture through entityReport (same shape: the
    // golden's entity count, 3 score rows of 1/2/2 specs, 2 summary
    // boxes), and require the inventories to be IDENTICAL — structure
    // derived from the golden artifact, not from our own template.
    val goldenPath = java.nio.file.Paths.get(
      "/root/reference/Report_Generator_AI_Threats",
      "Report Generator_ AI Disruption Risk.html")
    assume(java.nio.file.Files.isReadable(goldenPath),
      "reference golden file not present")
    val full = new String(java.nio.file.Files.readAllBytes(goldenPath),
      "UTF-8")
    val docStart = full.lastIndexOf("<html")
    assert(docStart >= 0, "golden export carries no <html document")
    val golden = full.substring(docStart)
    val want = inventory(golden)
    // sanity: the golden really is the per-entity report document
    assert(want("entity") > 0 && want("score-box") == want("entity"))

    import spark.implicits._
    val n = want("entity")
    val rows = (1 to n).map(i =>
      (s"Entity $i", 0.9 - i * 0.1, 0.34, i * 2L, 1.24, i * 3L,
        s"risk summary $i", s"proactivity summary $i"))
      .toDF("entity_name", "net", "risk", "n_risk", "pro", "n_pro",
        "risk_summary", "pro_summary")
    val html = ReportSink.entityReport(rows,
      "AI Disruption Risk and Proactive Responses",
      definitions = Seq("Net" -> "net score", "Risk" -> "risk score"),
      sectionTitle = "All Companies",
      scoreRows = Seq(
        Seq(ScoreSpec("net", "AI Proactivity Minus Disruption Risk Score")),
        Seq(ScoreSpec("risk", "AI Disruption Risk Score"),
          ScoreSpec("n_risk", "Nb Documents Risk")),
        Seq(ScoreSpec("pro", "AI Proactivity Score"),
          ScoreSpec("n_pro", "Nb Documents Proactivity"))),
      summaries = Seq(SummarySpec("risk_summary", "AI Disruption Risk"),
        SummarySpec("pro_summary", "AI Proactivity")),
      reportDate = "August 14, 2026")
    assert(inventory(html) == want,
      s"inventory diverged from golden:\n ours=${inventory(html)}\n golden=$want")
    // each score-row holds exactly ONE <p> in both renderings (the joined
    // multi-spec form, not a paragraph per spec)
    def onePPerRow(h: String) =
      """<div class=["']score-row["']>\s*<p""".r.findAllMatchIn(h).length
    assert(onePPerRow(golden) == want("score-row"))
    assert(onePPerRow(html) == want("score-row"))
  }

  // ---- theme report template (Tracking_Inflation_Drivers summarize.py) ----

  /** Structural inventory of the THEME template: tag counts plus the
    * per-`<h2>`-group topic-summary distribution (order-sensitive). */
  private def themeInventory(html: String): (Map[String, Int], Seq[Int]) = {
    def c(re: String) = re.r.findAllMatchIn(html).length
    val counts = Map(
      "h1" -> c("<h1>"), "h2" -> c("<h2>"),
      "topic" -> c("""<p class=["']topic-summary["']>"""),
      "strong" -> c("<strong>"),
      "plain-p" -> c("<p>"), // exact-match: date line + intro only
      "from" -> c("Report from "))
    val body = html.substring(html.indexOf("<body"))
    val groups = body.split("<h2>").drop(1).toSeq
      .map(g => "topic-summary".r.findAllMatchIn(g).length)
    (counts, groups)
  }

  test("theme report: element inventory matches the reference's second " +
      "golden rendered run (Tracking_Inflation_Drivers)") {
    // the reference checks in a SECOND rendered report with a different
    // template (summarize.py:222-285). Parse ITS inventory — including how
    // many topic paragraphs each h2 group holds — build an equivalent
    // fixture through themeReport, and require both the tag counts and the
    // per-group distribution to be IDENTICAL.
    val goldenPath = java.nio.file.Paths.get(
      "/root/reference/Tracking_Inflation_Drivers",
      "Tracking_Inflation_Drivers.html")
    assume(java.nio.file.Files.isReadable(goldenPath),
      "reference golden file not present")
    val full = new String(java.nio.file.Files.readAllBytes(goldenPath),
      "UTF-8")
    val docStart = full.lastIndexOf("<html")
    assert(docStart >= 0, "golden export carries no <html document")
    val golden = full.substring(docStart)
    val (want, groupSizes) = themeInventory(golden)
    // sanity: the golden really is the grouped theme report
    assert(want("h1") == 1 && want("h2") == groupSizes.length)
    assert(want("topic") == groupSizes.sum && groupSizes.forall(_ > 0))
    assert(want("strong") == want("topic"),
      "one <strong> header per topic paragraph")

    import spark.implicits._
    // label-%02d keeps lexicographic group order == construction order, so
    // the golden's per-group sizes land on the same h2 positions
    val rows = groupSizes.zipWithIndex.flatMap { case (n, i) =>
      (1 to n).map(k =>
        (f"label-$i%02d", s"Theme $i", s"Topic $k", s"summary $i.$k"))
    }
    val html = ReportSink.themeReport(
      rows.toDF("label", "theme", "topic", "topic_summary"),
      "United States Inflation in 2025", "2025-01-01", "2025-02-28",
      "intro paragraph")
    val (got, gotSizes) = themeInventory(html)
    assert(got == want, s"inventory diverged from golden:\n ours=$got\n golden=$want")
    assert(gotSizes == groupSizes,
      s"per-group distribution diverged: ours=$gotSizes golden=$groupSizes")
  }

  test("theme report quirks: pyTitle, empty input, group ordering") {
    // CPython str.title() semantics on the label header
    assert(ReportSink.pyTitle("cost-push") == "Cost-Push")
    assert(ReportSink.pyTitle("a1a") == "A1A")
    assert(ReportSink.pyTitle("WAGE increases") == "Wage Increases")
    // word state tracks CASED-ness, not letter-ness: CJK letters are
    // uncased, so a cased letter after one starts a new word ('中a'.title()
    // == '中A' in CPython), and apostrophes break words ("don't" → "Don'T")
    assert(ReportSink.pyTitle("中a") == "中A")
    assert(ReportSink.pyTitle("don't stop") == "Don'T Stop")
    // code-point semantics (CPython strings are code points, not UTF-16
    // units): a supplementary-plane CASED letter is one cased char, not
    // two word-breaking surrogates. 𝕒 (U+1D552, Ll, no case maps) keeps
    // the word open; Deseret 𐐀/𐐨 (U+10400/U+10428) map to each other.
    // Expected values are CPython 3 outputs, captured verbatim.
    assert(ReportSink.pyTitle("𝕒bc") == "𝕒bc")
    assert(ReportSink.pyTitle("a𝕒bc") == "A𝕒bc")
    assert(ReportSink.pyTitle("x𐐀y") == "X𐐨y")
    assert(ReportSink.pyTitle("𐐨abc") == "𐐀abc")
    // FULL case mappings (Unicode SpecialCasing), as CPython applies:
    // word-initial expansions and İ's multi-char lowercase
    assert(ReportSink.pyTitle("ßx") == "Ssx")
    assert(ReportSink.pyTitle("ssßx") == "Ssßx") // mid-word ß lowers to itself
    assert(ReportSink.pyTitle("ﬁle") == "File")
    assert(ReportSink.pyTitle("ŉa") == "ʼNa")
    assert(ReportSink.pyTitle("ǰab") == "J̌ab")
    assert(ReportSink.pyTitle("AİB") == "Ai̇b")
    assert(ReportSink.pyTitle("İx") == "İx")
    // a titlecase letter is its own title form and lowers mid-word
    assert(ReportSink.pyTitle("ǅa") == "ǅa")
    assert(ReportSink.pyTitle("Ǆa") == "ǅa")
    assert(ReportSink.pyTitle("aǅ") == "Aǆ")
    assert(ReportSink.pyTitle("ᾈᾈ") == "ᾈᾀ")
    import spark.implicits._
    val empty = Seq.empty[(String, String, String, String)]
      .toDF("label", "theme", "topic", "topic_summary")
    assert(ReportSink.themeReport(empty, "T", "a", "b", "i")
      == "<p>No data available to display.</p>")
    // null labels are dropped like pandas' NaN-keyed groups, but a
    // non-empty all-null frame still renders the header shell (the
    // reference's df.empty check precedes the groupby)
    val allNull = Seq((null: String, "T", "t", "s"))
      .toDF("label", "theme", "topic", "topic_summary")
    val shell = ReportSink.themeReport(allNull, "M", "a", "b", "i")
    assert(shell.contains("<h1>M Report</h1>") && !shell.contains("<h2>"))
    // groups sort by label (pandas groupby key order), rows keep input
    // order within a group; values are escaped; null-label rows vanish
    val df = Seq(
      ("zeta", "T1", "late topic", "s1"),
      ("alpha", "T2", "first <topic>", "s2"),
      (null: String, "T9", "dropped topic", "s9"),
      ("zeta", "T3", "later topic", "s3"))
      .toDF("label", "theme", "topic", "topic_summary")
    val html = ReportSink.themeReport(df, "M", "2025-01-01", "2025-02-28", "i")
    assert(!html.contains("dropped topic"))
    val za = html.indexOf("<h2>Alpha Factors</h2>")
    val zz = html.indexOf("<h2>Zeta Factors</h2>")
    assert(za >= 0 && zz > za)
    assert(html.indexOf("late topic") < html.indexOf("later topic"))
    assert(html.contains("first &lt;topic&gt;"))
    intercept[IllegalArgumentException] {
      ReportSink.themeReport(df, "M", "a", "b", "i", maxTopics = 2)
    }
  }
}

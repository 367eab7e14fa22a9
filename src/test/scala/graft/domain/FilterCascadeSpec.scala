package graft.domain

import graft.SparkSpec
import graft.model.ProfileMatch
import graft.operators.FilterCascade
import org.apache.spark.sql.DataFrame

class FilterCascadeSpec extends SparkSpec {

  import Fixtures._

  private lazy val postsDf: DataFrame = {
    val s = spark
    import s.implicits._
    posts.toDF().cache()
  }
  private lazy val profilesDf: DataFrame = {
    val s = spark
    import s.implicits._
    profiles.toDF().cache()
  }

  private def urisFor(c: graft.model.Condition): Set[String] =
    FilterCascade(postsDf, c, Some(profilesDf))
      .select("uri").collect().map(_.getString(0)).toSet

  test("include regex is case-insensitive and counts matches (P3)") {
    val got = urisFor(cond())
    assert(got.contains("at://a/1"))
    assert(got.contains("at://a/3")) // SPARK uppercase
    assert(!got.contains("at://a/2"))
    assert(!got.contains("at://a/5")) // alt text NOT searched by default
  }

  test("exclude regex drops matches; empty pattern disables (P4)") {
    val got = urisFor(cond(invertRegex = "banana"))
    assert(!got.contains("at://a/4"))
    assert(got.contains("at://a/1"))
  }

  test("includeAltText extends the searched text with image ALTs (P5)") {
    val got = urisFor(cond(includeAltText = true))
    assert(got.contains("at://a/5"))
  }

  test("imageOnly / textOnly 3-state enum (P6)") {
    val withImg = urisFor(cond(imageOnly = "imageOnly"))
    assert(withImg == Set("at://a/6")) // only image post matching 'spark' in text
    val textOnly = urisFor(cond(imageOnly = "textOnly"))
    assert(!textOnly.contains("at://a/6"))
    assert(textOnly.contains("at://a/1"))
  }

  test("labelDisable drops labeled posts, keeps empty/missing labels (P7, divergence §7.4#3)") {
    val got = urisFor(cond(labelDisable = true))
    assert(!got.contains("at://a/8"))
    assert(got.contains("at://a/9")) // labels = [] kept
    assert(got.contains("at://a/1")) // labels missing kept (divergence)
  }

  test("replyDisable drops replies (P8)") {
    val got = urisFor(cond(replyDisable = true))
    assert(!got.contains("at://a/7"))
    assert(got.contains("at://a/1"))
  }

  test("lang filter (P10)") {
    val got = urisFor(cond(lang = Some("es")))
    assert(got == Set("at://a/10"))
  }

  test("profileMatch: term-only posts require a profile-regex hit (P9)") {
    val got = urisFor(cond(profileMatch = Some(ProfileMatch("vector", "spark"))))
    assert(got.contains("at://a/12")) // Bob's profile mentions spark
    assert(!got.contains("at://a/13")) // Carol's doesn't
    assert(got.contains("at://a/1")) // text matches more than the term → no profile gate
  }

  test("stored rows carry event time and reply refs (schema)") {
    val rows = FilterCascade(postsDf, cond(), Some(profilesDf))
      .orderBy("uri").collect()
    val r7 = rows.find(_.getString(0) == "at://a/7").get
    assert(r7.getAs[String]("replyParent") == "at://r/parent")
    assert(r7.getAs[String]("replyRoot") == "at://r/root")
    assert(r7.getAs[java.sql.Timestamp]("indexedAt") != null)
    assert(rows.forall(_.getAs[String]("key") == "feed1"))
  }

  test("fanOut over all conditions equals per-condition application") {
    val cs = Seq(
      cond(key = "f1"),
      cond(key = "f2", invertRegex = "banana", replyDisable = true),
      cond(key = "f3", lang = Some("es")),
      cond(key = "f4", profileMatch = Some(ProfileMatch("vector", "spark"))),
      cond(key = "f5", imageOnly = "imageOnly", includeAltText = true),
    )
    val fanned = FilterCascade.fanOut(postsDf,
        FilterCascade.conditionsDf(spark, cs), Some(profilesDf))
      .select("key", "uri").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val perCond = cs.flatMap(c =>
      FilterCascade(postsDf, c, Some(profilesDf))
        .select("uri").collect().map(r => (c.key, r.getString(0)))).toSet
    assert(fanned == perCond)
    assert(fanned.nonEmpty)
  }

  test("includePrefilter is a sound superset screen: fanOut output is unchanged") {
    // branch coverage: alt-only matches (the prefilter deliberately tests
    // the ALT-EXTENDED text for everyone), a profileMatch condition (its
    // include regex is still required), and a narrow regex most posts fail
    val cs = Seq(
      cond(key = "f1", inputRegex = "spark"),
      cond(key = "f2", inputRegex = "spark", includeAltText = true),
      cond(key = "f3", inputRegex = "vector",
        profileMatch = Some(ProfileMatch("vector", "spark"))),
      cond(key = "f4", inputRegex = "español", lang = Some("es")),
    )
    val pf = FilterCascade.includePrefilter(cs)
    assert(pf.isDefined, "plain patterns must enable the prefilter")
    def fanned(p: Option[org.apache.spark.sql.Column]) =
      FilterCascade.fanOut(postsDf, FilterCascade.conditionsDf(spark, cs),
          Some(profilesDf), prefilter = p)
        .select("key", "uri").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val without = fanned(None)
    assert(fanned(pf) == without)
    assert(without.exists(_._1 == "f2"), "alt-only match must survive the screen")
    assert(without.exists(_._1 == "f3"))
  }

  test("requiredLiterals extracts per-branch needles conservatively") {
    import FilterCascade.requiredLiterals
    assert(requiredLiterals("spark|vector") == Some(Seq("spark", "vector")))
    assert(requiredLiterals("topic7\\b") == Some(Seq("topic7")))
    // \b splits runs; the LONGEST run is the needle; escaped punctuation
    // is literal; case is folded
    assert(requiredLiterals("Foo\\bBarBaz") == Some(Seq("barbaz")))
    assert(requiredLiterals("c\\+\\+|rust") == Some(Seq("c++", "rust")))
    // non-ASCII chars split runs (only ASCII needles are fold-sound)
    assert(requiredLiterals("español") == Some(Seq("espa")))
    // whole-pattern group wrappers unwrap (capturing or not, nested);
    // leading safe inline flags strip — the dq02-style keyword shapes
    assert(requiredLiterals("(spark|vector)") == Some(Seq("spark", "vector")))
    assert(requiredLiterals("(?:ab|cd)") == Some(Seq("ab", "cd")))
    assert(requiredLiterals("(?i)spark") == Some(Seq("spark")))
    assert(requiredLiterals("((aa))") == Some(Seq("aa")))
    // the r17 widening — real-world feed-regex shapes now extract:
    // optional tails retract the optional char and split the run
    assert(requiredLiterals("colou?r") == Some(Seq("colo")))
    // a grouped suffix alternation: the longer outer run wins
    assert(requiredLiterals("foo(s|es)") == Some(Seq("foo")))
    // ...and when the outer runs are too short, the branch rides the
    // group's OWN any-of set (every match contains one of these)
    assert(requiredLiterals("(spark|vector)s") == Some(Seq("spark", "vector")))
    // classes / predefined classes / dot / backrefs split runs
    assert(requiredLiterals("\\d{4} launch") == Some(Seq(" launch")))
    assert(requiredLiterals("[sz]park") == Some(Seq("park")))
    assert(requiredLiterals("sp.rk").exists(_.forall(_.length == 2)))
    // quantifiers: + keeps the char, exact {m} keeps the run contiguous,
    // {m,} keeps the first m copies then splits
    assert(requiredLiterals("spark+") == Some(Seq("spark")))
    assert(requiredLiterals("spark{2}") == Some(Seq("sparkk")))
    assert(requiredLiterals("ab{2,}c") == Some(Seq("abb")))
    // anchors and word boundaries split conservatively
    assert(requiredLiterals("^spark") == Some(Seq("spark")))
    assert(requiredLiterals("spark$") == Some(Seq("spark")))
    // quantified groups with min>=1 mine the body; optional groups skip
    assert(requiredLiterals("(ab)+") == Some(Seq("ab")))
    assert(requiredLiterals("(ab)?cde") == Some(Seq("cde")))
    assert(requiredLiterals("spa(rk)") == Some(Seq("spa")))
    // lookarounds / named groups / scoped safe flags
    assert(requiredLiterals("foo(?=bar)") == Some(Seq("foo")))
    assert(requiredLiterals("(?<tag>spark)") == Some(Seq("spark")))
    assert(requiredLiterals("(?i:Spark)") == Some(Seq("spark")))
    // hex escapes resolve to their code point (r17): a is 'a'
    assert(requiredLiterals("sp\\u0061rk") == Some(Seq("spark")))
    // \Q…\E quote regions resolve to their raw phrase (r18): a quoted
    // region is a guaranteed literal run, metachars and all
    assert(requiredLiterals("\\Qspark\\E") == Some(Seq("spark")))
    assert(requiredLiterals("\\Qa.b(c)\\E") == Some(Seq("a.b(c)")))
    // STANDS DOWN: COMMENTS mode (pattern whitespace vanishes), stray
    // \E, exotic escapes, and any branch with no >=2-char literal
    for (q <- Seq("(?x)ab cd", "ab\\Ecd", "\\p{L}+",
        "(?=spark)", "(a|b)(c|d)", "\\d+", "(a)\\1", "a|b", "ab|x",
        "", "x", ".*", "a?b?"))
      assert(requiredLiterals(q).isEmpty, s"'$q' must reject")
  }

  test("prefilter stays sound on the Unicode→ASCII fold edge (ſpark, KELVIN K, İstanbul)") {
    val s = spark
    import s.implicits._
    // texts Java's (?iu) matches against ASCII patterns through the
    // 4-char fold — a lowercase-only screen would drop all three
    val posts = Seq(
      Fixtures.pv("at://u/1", "k1", "a ſpark of genius", "2024-03-01T10:00:00.000Z"),
      Fixtures.pv("at://u/2", "k2", "degrees Kelvin here", "2024-03-01T10:01:00.000Z"),
      Fixtures.pv("at://u/3", "k3", "İstanbul travel notes", "2024-03-01T10:02:00.000Z"),
      Fixtures.pv("at://u/4", "k4", "nothing relevant", "2024-03-01T10:03:00.000Z"),
      Fixtures.pv("at://u/5", "k5", "made with 🧶 today", "2024-03-01T10:04:00.000Z"),
      Fixtures.pv("at://u/6", "k6", "日本語の投稿です", "2024-03-01T10:05:00.000Z"),
    ).toDF()
    val cs = Seq(
      cond(key = "s", inputRegex = "spark"),
      cond(key = "k", inputRegex = "kelvin"),
      cond(key = "i", inputRegex = "istanbul"),
      // caseless-safe non-ASCII needles ride the screen end-to-end
      // (the emoji is astral: surrogate-pair automaton + screen text)
      cond(key = "y", inputRegex = "knitting|🧶"),
      cond(key = "j", inputRegex = "日本語"))
    val pf = FilterCascade.includePrefilter(cs)
    assert(pf.isDefined)
    def keys(p: Option[org.apache.spark.sql.Column]) =
      FilterCascade.fanOut(posts, FilterCascade.conditionsDf(spark, cs), None,
        prefilter = p).select("key").collect().map(_.getString(0)).toSet
    val want = keys(None)
    assert(want == Set("s", "k", "i", "y", "j"), s"fixture regression: $want")
    assert(keys(pf) == want, "the fold screen dropped a matchable post")
    // and through the INDEXED production form too
    val idx = FilterCascade.fanOutScreened(spark, posts, cs, None)
      .select("key").collect().map(_.getString(0)).toSet
    assert(idx == want, "the indexed fan-out diverged on the fold edge")
  }

  test("includePrefilter declines unsound or useless shapes") {
    // a \p{..} property class (exotic escape the extractor stands down
    // on) must disable the whole-set screen, not miscompile
    assert(FilterCascade.includePrefilter(Seq(
      cond(inputRegex = "\\p{L}park"), cond(key = "f2"))).isEmpty)
    // an empty include regex matches everything: the screen keeps all
    // posts anyway, so it is skipped outright
    assert(FilterCascade.includePrefilter(Seq(
      cond(inputRegex = ""), cond(key = "f2"))).isEmpty)
    assert(FilterCascade.includePrefilter(Nil).isEmpty)
    // a backreference pattern IS screenable since r17 — group 1's body is
    // a required literal, and the pattern itself is never rewritten
    val cs = Seq(cond(key = "dup", inputRegex = "(spark)\\s+\\1"), cond(key = "any"))
    val pf = FilterCascade.includePrefilter(cs)
    assert(pf.isDefined, "backref pattern must extract its group-1 literal")
    val out = FilterCascade.fanOut(postsDf,
        FilterCascade.conditionsDf(spark, cs), Some(profilesDf),
        prefilter = pf)
      .select("key").collect().map(_.getString(0)).toSet
    assert(out == Set("any"), s"got $out") // no post repeats 'spark spark'
  }

  test("fanOutScreened splits a mixed set: screened + unscreenable branches union to the plain fan-out") {
    // one unscreenable condition (a \p{..} property class defeats the
    // extractor) must cost one unscreened branch, not disable the screen
    // for the rest — and the union must be ROW-equivalent to fanning
    // everything out unscreened
    val cs = Seq(
      cond(key = "f1"),
      cond(key = "f2", inputRegex = "spark", includeAltText = true),
      cond(key = "f3", inputRegex = "vector",
        profileMatch = Some(ProfileMatch("vector", "spark"))),
      cond(key = "f4", inputRegex = "\\Qspark\\E"), // quoted phrase: screened (r18)
      cond(key = "dup", inputRegex = "\\p{L}+ spark"),
    )
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "uri").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val plain = rows(FilterCascade.fanOut(postsDf,
      FilterCascade.conditionsDf(spark, cs), Some(profilesDf)))
    val split = rows(FilterCascade.fanOutScreened(spark, postsDf, cs, Some(profilesDf)))
    assert(split == plain)
    assert(plain.exists(_._1 == "f1") && plain.exists(_._1 == "f3"),
      "fixture regression: screened branches must produce rows")
    assert(plain.exists(_._1 == "f4"),
      "fixture regression: the quoted condition must produce rows")
    // all-unscreenable and all-screenable sets route through one branch
    assert(rows(FilterCascade.fanOutScreened(spark, postsDf,
      cs.take(4), Some(profilesDf))) == plain.filterNot(_._1 == "dup"))
    assert(rows(FilterCascade.fanOutScreened(spark, postsDf,
      Seq(cs.last), Some(profilesDf))) == plain.filter(_._1 == "dup"))
  }

  test("fanOutScreened scans the posts once for screened, unscreenable and demoted conditions") {
    val s = spark
    import s.implicits._
    // 600 posts (past the gate's 256-row minimum) from an RDD, so the scan
    // is a leaf of its own in the executed plan
    val local = (0 until 600).map { i =>
      Fixtures.pv(s"at://one/$i", s"c$i",
        if (i % 50 == 0) s"ubiqtok scarcetok post $i" else s"ubiqtok post $i",
        "2024-03-01T10:00:00.000Z", labels = if (i % 7 == 0) Some(Nil) else None)
    }.toDF()
    val posts = spark.createDataFrame(local.rdd, local.schema)
    // a UNIQUE condition set (the gate memo is keyed by set identity)
    val cs = Seq(
      cond(key = "onebroad", inputRegex = "ubiqtok"), // universal: demoted
      cond(key = "onenarrow", inputRegex = "scarcetok"), // screened
      cond(key = "oneunscr", inputRegex = "\\p{L}+ scarcetok"), // unscreenable
      cond(key = "oneprof", inputRegex = "scarcetok",
        profileMatch = Some(ProfileMatch("scarcetok", "engineer"))))
    // the set fanOutScreened hands the gate: every condition but oneunscr
    val parsed = cs.flatMap(c => FilterCascade.requiredLiterals(c.inputRegex).map(c -> _))
    assert(parsed.map(_._1.key) == Seq("onebroad", "onenarrow", "oneprof"))
    assert(FilterCascade.densityDemoted(spark, posts, parsed)._1 == Set("onebroad"))
    def rows(df: DataFrame) = df.select("key", "uri").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val screened = FilterCascade.fanOutScreened(spark, posts, cs, Some(profilesDf))
    val plain = rows(FilterCascade.fanOut(posts,
      FilterCascade.conditionsDf(spark, cs), Some(profilesDf)))
    assert(rows(screened) == plain)
    assert(Seq("onebroad", "onenarrow", "oneunscr", "oneprof")
      .forall(k => plain.exists(_._1 == k)), "fixture regression: every kind produces rows")
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val scans = helper.collectLeaves(screened.queryExecution.executedPlan)
      .filter(_.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec])
    assert(scans.size == 1, s"posts scanned ${scans.size} times")
  }

  test("density gate demotes ultra-common needles and preserves row-equivalence") {
    val s = spark
    import s.implicits._
    // 600 posts (past the gate's 256-row minimum): every text carries the
    // universal token; ~1% carry the rare one
    val posts = (0 until 600).map { i =>
      Fixtures.pv(s"at://g/$i", s"c$i",
        if (i % 100 == 0) s"common raretok post $i" else s"common post $i",
        "2024-03-01T10:00:00.000Z")
    }.toDF()
    val cs = Seq(
      cond(key = "broad", inputRegex = "common"), // ~100% of the stream
      cond(key = "narrow", inputRegex = "raretok")) // ~1%
    val parsed = cs.map(c =>
      c -> FilterCascade.requiredLiterals(c.inputRegex).get)
    val (demoted, probe0) = FilterCascade.densityDemoted(spark, posts, parsed)
    assert(demoted == Set("broad"),
      s"the universal-literal condition must demote to the every-post path: $demoted")
    assert(probe0.isEmpty, "a judgeable first drain arms immediately — no probe")
    // the demotion is a pure plan-routing decision: outputs stay identical
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "uri").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val screened = rows(FilterCascade.fanOutScreened(spark, posts, cs, None))
    val plain = rows(FilterCascade.fanOut(posts,
      FilterCascade.conditionsDf(spark, cs), None))
    assert(screened == plain)
    assert(plain.count(_._1 == "broad") == 600 && plain.count(_._1 == "narrow") == 6)
    // the gate stands down on tiny batches (density unjudgeable, and
    // either plan form is instant there) — probed with a FRESH condition
    // set, since verdicts are memoized by condition-set identity
    val parsed2 = Seq(cond(key = "tiny", inputRegex = "common")).map(c =>
      c -> FilterCascade.requiredLiterals(c.inputRegex).get)
    val (d2, p2) = FilterCascade.densityDemoted(spark, posts.limit(10), parsed2)
    assert(d2.isEmpty)
    assert(p2.isDefined, "a bootstrap-tiny drain must hand back arming counters")
  }

  test("density gate arms out of the bootstrap-tiny window from the scan's own counters") {
    val s = spark
    import s.implicits._
    def drain(n: Int, from: Int = 0) = (from until from + n).map { i =>
      Fixtures.pv(s"at://arm/$i", s"c$i",
        if (i % 100 == 1) s"evrywun raretok2 post $i" else s"evrywun post $i",
        "2024-03-01T10:00:00.000Z")
    }.toDF()
    // a UNIQUE condition set (memo is keyed by set identity)
    val cs = Seq(
      cond(key = "armbroad", inputRegex = "evrywun"), // universal literal
      cond(key = "armnarrow", inputRegex = "raretok2"))
    val parsed = cs.map(c =>
      c -> FilterCascade.requiredLiterals(c.inputRegex).get)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "uri").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    // drain 1: 40 rows — too small to judge; the sample probe must NOT
    // freeze an unarmed verdict, and the drain itself runs ungated but
    // feeds the counters through the indexed scan
    val d1 = drain(40)
    val out1 = rows(FilterCascade.fanOutScreened(spark, d1, cs, None))
    assert(out1 == rows(FilterCascade.fanOut(d1,
      FilterCascade.conditionsDf(spark, cs), None)))
    val (v1, p1) = FilterCascade.densityDemoted(spark, d1, parsed)
    assert(v1.isEmpty && p1.isDefined, "still probing after a tiny drain")
    assert(p1.get.rows.value == 40L,
      s"drain 1's scan must have fed the counters: ${p1.get.rows.value}")
    // drain 2: 300 more rows — crosses the 256-row floor
    val d2 = drain(300, from = 40)
    val out2 = rows(FilterCascade.fanOutScreened(spark, d2, cs, None))
    assert(out2 == rows(FilterCascade.fanOut(d2,
      FilterCascade.conditionsDf(spark, cs), None)))
    // drain 3: the gate must now be ARMED with the universal literal
    // demoted — computed from the accumulated scan counters, with no
    // extra probe job
    val d3 = drain(10, from = 340)
    val (v3, p3) = FilterCascade.densityDemoted(spark, d3, parsed)
    assert(v3 == Set("armbroad"),
      s"gate must arm once cumulative rows cross the floor: $v3")
    assert(p3.isEmpty, "armed verdicts carry no probe")
    // and row-equivalence holds through the armed (demoted) routing too
    val out3 = rows(FilterCascade.fanOutScreened(spark, d3, cs, None))
    assert(out3 == rows(FilterCascade.fanOut(d3,
      FilterCascade.conditionsDf(spark, cs), None)))
  }
}

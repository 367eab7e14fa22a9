package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Does the (already case-folded) text contain ANY of the N literal
  * needles? ONE Aho–Corasick pass over the text — O(|text|) whatever the
  * needle count — where both a per-needle `contains` loop and a Java
  * regex alternation pay O(|text|·N) (Java's Pattern tries each
  * alternation branch at every position; the measured 1 000-branch
  * prefilter cost nearly as much as the pair loop it was screening —
  * SCALE.md fanout section). This is the standing-query fan-out's
  * include PREFILTER engine ([[graft.operators.FilterCascade
  * .includePrefilter]]): needles are lowercased REQUIRED literals
  * extracted from the include regexes, the text arrives through
  * `lower(translate(...))` (see the prefilter for the exact four-char
  * Unicode→ASCII fold table and its exhaustiveness spec), so
  * `contains(needle)` is a sound SUPERSET of `(?iu)regex` matching.
  *
  * The automaton is immutable after construction and built lazily once
  * per (deserialized) expression instance; matching allocates nothing. */
case class ContainsAnyFolded(child: Expression, needles: Seq[String])
    extends UnaryExpression with Predicate with ExpectsInputTypes {

  require(needles.nonEmpty && needles.forall(_.nonEmpty),
    "ContainsAnyFolded needs at least one non-empty needle")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "contains_any_folded"

  @transient lazy val automaton: AhoCorasick = AhoCorasick(needles)

  override protected def nullSafeEval(input: Any): Any =
    automaton.containsAny(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference the EXPRESSION instance: its lazy automaton is built once
    // per task-deserialized instance, and the generated call stays inside
    // whole-stage codegen
    val ref = ctx.addReferenceObj("containsAny", this, this.getClass.getName)
    defineCodeGen(ctx, ev, c => s"$ref.automaton().containsAny($c.toString())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ContainsAnyFolded {
  def apply(text: Column, needles: Seq[String]): Column =
    ExpressionUtils.column(
      ContainsAnyFolded(ExpressionUtils.expression(text), needles))
}

/** The INVERTED-INDEX form of the include screen: the distinct ordinals
  * (`tags`) of the conditions whose required literal occurs in the
  * (pre-folded) text, ascending — `array<int>`, empty when none. The
  * fan-out explodes this and broadcast-HASH-joins the condition set on
  * the ordinal, so a post pays the cascade predicate only for its
  * CANDIDATE conditions: |posts| + |candidate pairs| total work, in
  * every match regime, where the crossJoin form pays |posts| × width
  * ([[graft.operators.FilterCascade.fanOutScreened]]). One automaton
  * scan per post, exactly like [[ContainsAnyFolded]].
  *
  * `probe` (optional) is the density gate's arming side-output: while a
  * condition set is still in its bootstrap window (first sighted on a
  * drain too small to estimate candidate density), the scan that ALREADY
  * runs every drain also feeds per-condition document-frequency counters
  * through the accumulator channel — no extra job, no source
  * re-execution, and correct across executor JVMs. Task retries and
  * speculation can re-count rows, but rows and hits inflate together, so
  * the density RATIO the gate reads stays unbiased.
  *
  * `always` ordinals, `nTags` until `nTags + always`, follow the matched
  * ones on EVERY row: the conditions no needle can screen, which the
  * fan-out still evaluates for every post. They ride the same explode
  * and join, so the posts are scanned once whatever the mix. The probe
  * counts only the needle hits. */
case class MatchedConditionsFolded(child: Expression,
    needles: Seq[String], tags: Seq[Int], nTags: Int,
    probe: Option[DensityProbe] = None, always: Int = 0)
    extends UnaryExpression with ExpectsInputTypes {

  require(needles.nonEmpty && needles.length == tags.length && nTags > 0 &&
    always >= 0, "needles/tags must align, nTags must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "matched_conditions_folded"

  @transient lazy val automaton: AhoCorasick =
    AhoCorasick.tagged(needles.zip(tags), nTags)

  def matched(t: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val hits = automaton.matchedTags(t.toString)
    probe.foreach(_.record(hits))
    val out = if (always == 0) hits else {
      val o = java.util.Arrays.copyOf(hits, hits.length + always)
      var k = 0
      while (k < always) { o(hits.length + k) = nTags + k; k += 1 }
      o
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    matched(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matchedConds", this, this.getClass.getName)
    defineCodeGen(ctx, ev, c => s"$ref.matched($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MatchedConditionsFolded {
  def apply(text: Column, needleTags: Seq[(String, Int)], nTags: Int,
      probe: Option[DensityProbe], always: Int): Column =
    ExpressionUtils.column(MatchedConditionsFolded(
      ExpressionUtils.expression(text),
      needleTags.map(_._1), needleTags.map(_._2), nTags, probe, always))
}

/** The density gate's arming side-output (see
  * [[graft.operators.FilterCascade.densityDemoted]]): one row counter
  * plus per-condition hit counters, fed from inside the
  * [[MatchedConditionsFolded]] scan and read back on the driver through
  * Spark's accumulator channel. Plain class — expression-tree equality
  * stays reference-based, which is what a mutable side-channel wants. */
final class DensityProbe(val rows: org.apache.spark.util.LongAccumulator,
    val hits: TagHitsAccumulator) extends Serializable {
  def record(matchedTags: Array[Int]): Unit = {
    rows.add(1L)
    if (matchedTags.length > 0) hits.add(matchedTags)
  }
}

object DensityProbe {
  /** Fresh probe registered on `sc` (unnamed: these are transient
    * bootstrap-window counters, not user-facing metrics). */
  def register(sc: org.apache.spark.SparkContext, nTags: Int): DensityProbe = {
    val rows = sc.longAccumulator
    val hits = new TagHitsAccumulator(nTags)
    sc.register(hits)
    new DensityProbe(rows, hits)
  }
}

/** Long counters indexed by tag ordinal: `add` takes one row's DISTINCT
  * matched tags (what [[AhoCorasick.matchedTags]] emits) and bumps each
  * — so `value(i)` is condition i's document frequency over the scanned
  * rows. */
final class TagHitsAccumulator(n: Int)
    extends org.apache.spark.util.AccumulatorV2[Array[Int], Array[Long]] {
  private var counts = new Array[Long](n)
  override def isZero: Boolean = {
    var i = 0
    while (i < counts.length) { if (counts(i) != 0L) return false; i += 1 }
    true
  }
  override def copy(): TagHitsAccumulator = {
    val c = new TagHitsAccumulator(n)
    System.arraycopy(counts, 0, c.counts, 0, n)
    c
  }
  override def reset(): Unit = counts = new Array[Long](n)
  override def add(v: Array[Int]): Unit = {
    var i = 0
    while (i < v.length) { counts(v(i)) += 1L; i += 1 }
  }
  override def merge(other: org.apache.spark.util.AccumulatorV2[Array[Int], Array[Long]]): Unit =
    other match {
      case o: TagHitsAccumulator =>
        val ov = o.counts
        var i = 0
        while (i < ov.length) { counts(i) += ov(i); i += 1 }
      case _ => throw new UnsupportedOperationException(
        s"cannot merge ${other.getClass.getName} into TagHitsAccumulator")
    }
  override def value: Array[Long] = counts.clone()
}

/** Classic Aho–Corasick automaton over chars (goto table as a per-node
  * sorted char/next pair array — needle alphabets are tiny, and binary
  * search beats a hash per step at these sizes). Two query modes:
  * [[containsAny]] (existence; any terminal-reachable node
  * short-circuits the scan) and [[matchedTags]] (the DISTINCT tags of
  * every needle occurring in the text — per-state tag sets are
  * pre-aggregated through the suffix links at build time, so the scan
  * stays one state-walk with no per-position output-link chasing). */
final class AhoCorasick private (gotoChars: Array[Array[Char]],
    gotoNext: Array[Array[Int]], fail: Array[Int], hit: Array[Boolean],
    tags: Array[Array[Int]], nTags: Int) {

  private def step(from: Int, c: Char): Int = {
    var state = from
    while (true) {
      val idx = java.util.Arrays.binarySearch(gotoChars(state), c)
      if (idx >= 0) return gotoNext(state)(idx)
      if (state == 0) return 0
      state = fail(state)
    }
    0 // unreachable
  }

  def containsAny(text: String): Boolean = {
    var s = 0
    var i = 0
    val n = text.length
    while (i < n) {
      s = step(s, text.charAt(i))
      if (hit(s)) return true
      i += 1
    }
    false
  }

  /** Distinct tags of every needle present in `text`, ascending. Most
    * rows hit nothing: the seen-set allocates only on the first hit, and
    * the scan stops early once every tag has been seen. */
  def matchedTags(text: String): Array[Int] = {
    var s = 0
    var i = 0
    val n = text.length
    var seen: java.util.BitSet = null
    var found = 0
    while (i < n && found < nTags) {
      s = step(s, text.charAt(i))
      if (hit(s)) {
        if (seen == null) seen = new java.util.BitSet(nTags)
        val ts = tags(s)
        var k = 0
        while (k < ts.length) {
          if (!seen.get(ts(k))) { seen.set(ts(k)); found += 1 }
          k += 1
        }
      }
      i += 1
    }
    if (seen == null) AhoCorasick.NoTags
    else {
      val out = new Array[Int](found)
      var b = seen.nextSetBit(0)
      var k = 0
      while (b >= 0) { out(k) = b; k += 1; b = seen.nextSetBit(b + 1) }
      out
    }
  }
}

object AhoCorasick {

  private[graft] val NoTags = new Array[Int](0)

  /** Existence-only automaton (all needles share tag 0). */
  def apply(needles: Seq[String]): AhoCorasick =
    tagged(needles.map(_ -> 0), 1)

  /** Tagged automaton: `needleTags` maps each needle to the tag(s) that
    * [[AhoCorasick.matchedTags]] reports when it occurs (one needle may
    * carry several tags — two conditions can share a literal). */
  def tagged(needleTags: Seq[(String, Int)], nTags: Int): AhoCorasick = {
    // an empty needle would land its tag on the ROOT, and the suffix-link
    // aggregation would then propagate it to EVERY state — all posts
    // become candidates for that tag, and empty texts inconsistently
    // emit nothing. requiredLiterals guarantees length ≥ 2; enforce at
    // the automaton so any future caller fails loudly instead.
    require(needleTags.nonEmpty && needleTags.forall(_._1.nonEmpty),
      "needles must be non-empty strings")
    // trie build over a growable node list
    val children = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.TreeMap.empty[Char, Int])
    val ownTags = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.SortedSet.empty[Int])
    needleTags.foreach { case (w, tag) =>
      var s = 0
      w.foreach { c =>
        s = children(s).getOrElseUpdate(c, {
          children += scala.collection.mutable.TreeMap.empty[Char, Int]
          ownTags += scala.collection.mutable.SortedSet.empty[Int]
          children.size - 1
        })
      }
      ownTags(s) += tag
    }
    // BFS failure links; tag sets aggregate through the suffix links
    // (fail(s) is shallower than s, so its set is final when s dequeues)
    val n = children.size
    val fail = new Array[Int](n)
    val queue = scala.collection.mutable.Queue.empty[Int]
    children(0).foreach { case (_, s) => fail(s) = 0; queue += s }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      ownTags(s) ++= ownTags(fail(s))
      children(s).foreach { case (c, t) =>
        var f = fail(s)
        while (f != 0 && !children(f).contains(c)) f = fail(f)
        fail(t) = children(f).getOrElse(c, 0) match {
          case `t` => 0 // the root child's self-case: fall to root
          case other => other
        }
        queue += t
      }
    }
    val gotoChars = children.map(_.keysIterator.toArray).toArray
    val gotoNext = children.map(_.valuesIterator.toArray).toArray
    val tags = ownTags.map(_.toArray).toArray
    val hit = tags.map(_.nonEmpty)
    new AhoCorasick(gotoChars, gotoNext, fail, hit, tags, math.max(1, nTags))
  }
}

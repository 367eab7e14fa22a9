package graft.operators

import graft.model.Condition
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-condition filter cascade (/root/reference/src/subscription.ts:
  * 271-350, operators P3-P10 in SURVEY.md §2.2) as ONE composed Column
  * predicate over PostView-shaped rows — a single codegen'd stage, no UDFs.
  *
  * Regex dialect: Java with an embedded (?iu) flag (SURVEY §7.4#1). The
  * reference compiles `new RegExp(pat, 'ig')`, and the JS 'i' flag does
  * FULL Unicode case folding; Java's (?i) alone folds ASCII only, so the
  * faithful mapping is CASE_INSENSITIVE|UNICODE_CASE — which also agrees
  * with RE2's Unicode-aware (?i) (the oracle engine). Remaining accepted
  * divergences are documented in RegexDialectSpec.
  * Label quirk divergence (§7.4#3): missing `labels` is treated as
  * unlabeled (kept), unlike the reference which drops undefined labels.
  */
object FilterCascade {

  private def ci(pat: String): String = s"(?iu)$pat"

  /** Search text (P5): record.text, plus '\n'-joined image ALTs when the
    * condition opts in (subscription.ts:284-288). */
  def searchText(includeAltText: Boolean): Column = {
    val text = coalesce(col("record.text"), lit(""))
    if (!includeAltText) text
    else concat_ws("\n",
      text,
      array_join(
        filter(transform(coalesce(col("record.embed.images"), array()), i => i("alt")),
          a => a.isNotNull),
        "\n"))
  }

  private def imageCount: Column =
    size(coalesce(col("record.embed.images"), array()))

  /** P3 — include-regex match count > 0 on the search text. */
  def includeRegex(st: Column, pat: String): Column =
    regexp_count(st, lit(ci(pat))) > 0

  /** P4 — exclude regex; empty pattern disables (subscription.ts:297-299). */
  def excludeRegex(st: Column, pat: String): Column =
    if (pat.isEmpty) lit(true) else !st.rlike(ci(pat))

  /** P6 — image presence 3-state enum (subscription.ts:301-307). */
  def imageFilter(mode: String): Column = mode match {
    case "imageOnly" => imageCount > 0
    case "textOnly"  => imageCount === 0
    case _           => lit(true)
  }

  /** P7 — label filter (missing labels = unlabeled, divergence §7.4#3). */
  def labelFilter(labelDisable: Boolean): Column =
    if (!labelDisable) lit(true)
    else size(coalesce(col("labels"), array())) === 0

  /** P8 — reply filter. */
  def replyFilter(replyDisable: Boolean): Column =
    if (!replyDisable) lit(true) else col("record.reply").isNull

  /** P10 — language membership (pushed into the source in the reference;
    * a post-filter here, a DSv2 pushdown on a real search source). */
  def langFilter(lang: Option[String]): Column =
    lang.map(l => array_contains(coalesce(col("record.langs"), array()), l))
      .getOrElse(lit(true))

  /** P9 — profileMatch conditional two-regex (subscription.ts:319-350):
    * when the text matches ONLY the narrow term (m1>0 and m0==m1), the
    * author's profile text must match the profile regex. `profileText` is
    * the joined displayName+' '+description column (null when the profile
    * dimension had no row). */
  def profileMatchFilter(st: Column, c: Condition, profileText: Column): Column =
    c.profileMatch match {
      case None => lit(true)
      case Some(pm) =>
        val m0 = regexp_count(st, lit(ci(c.inputRegex)))
        val m1 = regexp_count(st, lit(ci(pm.textTerm)))
        !(m1 > 0 && (m0 - m1) === 0) ||
          coalesce(profileText, lit("")).rlike(ci(pm.profileRegex))
    }

  /** The full composed predicate for one condition. */
  def predicate(c: Condition, profileText: Column): Column = {
    val st = searchText(c.includeAltText)
    includeRegex(st, c.inputRegex) &&
      excludeRegex(st, c.invertRegex) &&
      imageFilter(c.imageOnly) &&
      labelFilter(c.labelDisable) &&
      replyFilter(c.replyDisable) &&
      langFilter(c.lang) &&
      profileMatchFilter(st, c, profileText)
  }

  /** Apply one condition to a PostView DataFrame, joining the (small)
    * profile dimension via broadcast only when profileMatch needs it, and
    * stamping the feed key. Output: stored-Post-shaped rows. */
  def apply(posts: DataFrame, c: Condition, profiles: Option[DataFrame]): DataFrame = {
    val needsProfiles = c.profileMatch.isDefined && profiles.isDefined
    val withProfile =
      if (!needsProfiles) posts.withColumn("__profile_text", lit(null).cast("string"))
      else {
        val p = profiles.get.select(col("did").as("__pdid"),
          concat_ws(" ", coalesce(col("displayName"), lit("")),
            coalesce(col("description"), lit(""))).as("__profile_text"))
        posts.join(broadcast(p), posts("author.did") === col("__pdid"), "left")
          .drop("__pdid")
      }
    withProfile
      .filter(predicate(c, col("__profile_text")))
      .select(
        col("uri"),
        lit(c.key).as("key"),
        col("cid"),
        col("record.reply.parent.uri").as("replyParent"),
        col("record.reply.root.uri").as("replyRoot"),
        to_timestamp(col("record.createdAt")).as("indexedAt"))
  }

  /** REQUIRED literals of one include regex — an ANY-OF set: every text
    * the `(?iu)`-compiled pattern matches must CONTAIN at least one of
    * the returned (folded, lowercased, ASCII) literals. That is the
    * contract the include screen and the inverted index need, and it is
    * weaker than "one literal per branch": a branch may contribute
    * SEVERAL alternatives (from a non-optional inner group) when it has
    * no long-enough literal run of its own.
    *
    * Conservative recursive-descent extraction ([[LiteralExtractor]]):
    *  - literal runs accumulate printable-ASCII chars; anything whose
    *    matched text is unknown (classes `[..]` `\d` `\w`, dot,
    *    backrefs, groups we can't mine) just SPLITS the run — each side
    *    remains individually required;
    *  - quantifiers resolve against the preceding atom: `u?`/`u*`/
    *    `u{0,n}` retract the char and split (`colou?r` → "colo"),
    *    `k+`/`k{m,}` keep the first m copies then split, an EXACT
    *    `k{m}` keeps the run contiguous through all m copies;
    *  - a non-optional group in a concatenation is mined recursively:
    *    `foo(s|es)` yields "foo" (the longer guaranteed run wins), and
    *    `(spark|vector)x` yields {"spark","vector"} when the outer runs
    *    are too short;
    *  - zero-width constructs (`\b` `\B` `^` `$` anchors, lookarounds)
    *    split conservatively; safe inline-flag toggles `(?i)`… are
    *    no-ops (the screen is CI-always — a superset of every flag
    *    combination);
    *  - `\uXXXX`/`\xXX`/`\x{h…h}` hex escapes resolve to their code
    *    point (surrogate pairs combine, mirroring Java's parse) and are
    *    admitted under the same rule as raw chars — a JSON-escaped emoji
    *    (backslash-uD83E backslash-uDDF6 = 🧶, or `\x{1F9F6}`) is a
    *    literal needle;
    *  - `\Q…\E` quote regions are resolved FIRST ([[resolveQuotes]]):
    *    a quoted region is a guaranteed literal run — the easiest
    *    needles there are (users pasting exact phrases through the CRUD
    *    surface quote) — rewritten into per-character escaped literals
    *    so the balanced scans and the quantifier scoping both see
    *    exactly what Java's parser sees (a quantifier after `\E`
    *    applies to the LAST quoted code point in both forms);
    *  - the extractor STANDS DOWN (None) on anything it cannot bound:
    *    `(?x)`/COMMENTS (pattern whitespace vanishes — a needle with a
    *    space would go unsound), a stray `\E` outside any quote (Java
    *    rejects the pattern too), `\cX`/`\p{..}`/`\k<..>` escapes, any
    *    branch whose best
    *    guaranteed literal is shorter than 2 chars (a 1-char ASCII
    *    needle keeps ~every post — pure overhead), and any malformed
    *    construct. A screen that might drop a matchable post is worse
    *    than no screen.
    *
    * Non-ASCII literal chars: a CASED (or case-targeted) char splits the
    * run — only ASCII is sound under the 4-char fold ([[FoldFrom]]);
    * Greek final sigma and friends fold within Unicode, not into ASCII.
    * But a CASELESS, FOLD-ISOLATED code point (emoji, symbols — see
    * [[CaselessSafe]]) is its own 1-element fold class under `(?iu)` and
    * survives the screen's `lower(translate(...))` untouched, so it IS a
    * sound needle char — `topic|🧶` extracts {"topic", "🧶"}. A run
    * containing one is accepted even below the 2-char minimum (a single
    * symbol is highly selective, unlike a single ASCII letter).
    * Soundness over the whole accepted grammar is property-tested from a
    * generating AST in PrefilterPropertiesSpec; the caseless-safe table
    * is proven against Java's own matcher in CaselessSafeSpec. */
  private[graft] def requiredLiterals(pattern: String): Option[Seq[String]] = {
    // resolve \Q…\E quote regions BEFORE the balanced class/group scans
    // (a quoted ')' or ']' would mis-bracket them raw) — a quoted region
    // is a guaranteed literal run, the strongest needle source there is
    resolveQuotes(pattern).flatMap { p =>
      new LiteralExtractor(p).alternation(0, p.length, 0)
        .map(_.distinct).filter(_.nonEmpty)
    }
  }

  /** Rewrite `\Q…\E` quote regions into per-character escaped literals so
    * [[LiteralExtractor]] can mine them. The rewrite is match-equivalent
    * to Java's own parse: a quoted region is a SEQUENCE of single-char
    * atoms (not one big atom), so a quantifier following `\E` applies to
    * the last quoted code point in both forms (`\Qab\E+` ≡ `ab+`), an
    * empty `\Q\E` vanishes and a following quantifier binds the atom
    * before the quote (`a\Q\E+` ≡ `a+`), and an unterminated `\Q` quotes
    * to the end of the pattern — all probed against Java's matcher in
    * PrefilterPropertiesSpec's quoted shapes. Only ASCII
    * non-alphanumerics get the backslash (escaping a letter/digit would
    * CREATE an escape sequence: `\d`, `\1`); non-ASCII passes through
    * raw, where the parser's own code-point walk applies the
    * caseless-safe admission rule. None on a stray `\E` outside any
    * quote — Java rejects such a pattern outright. */
  private[graft] def resolveQuotes(pattern: String): Option[String] = {
    if (!pattern.contains("\\Q") && !pattern.contains("\\E")) return Some(pattern)
    // the rewrite must never LEGALIZE a pattern Java rejects: a quote
    // region opening mid-escape splices quoted chars onto the malformed
    // escape (`ab\u00e` + `\Q9\E` rewrites to the VALID `abé`), and
    // the extractor would then screen for a pattern the cascade's own
    // compile throws on — divergent branch behavior for one bad
    // condition. Quoted patterns are rare and this is driver-side, once
    // per condition per drain: one compile check keeps the documented
    // "Java-invalid ⇒ stand down" contract airtight.
    try java.util.regex.Pattern.compile(pattern)
    catch { case _: java.util.regex.PatternSyntaxException => return None }
    val out = new java.lang.StringBuilder(pattern.length + 16)
    var i = 0
    var quoted = false
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (quoted) {
        if (c == '\\' && i + 1 < pattern.length && pattern.charAt(i + 1) == 'E') {
          quoted = false; i += 2
        } else {
          val asciiAlnum = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9')
          if (c < 0x80 && !asciiAlnum) out.append('\\')
          out.append(c)
          i += 1
        }
      } else if (c == '\\' && i + 1 < pattern.length) {
        pattern.charAt(i + 1) match {
          case 'Q' => quoted = true; i += 2
          case 'E' => return None // stray \E: Java rejects the pattern too
          case e => out.append(c).append(e); i += 2
        }
      } else { out.append(c); i += 1 }
    }
    Some(out.toString)
  }

  /** Code points that are sound NEEDLE chars despite being non-ASCII:
    * caseless (upper == lower == title == self) AND fold-isolated (no
    * OTHER code point reaches them through any of Java's case mappings —
    * the regex engine's `lower(upper(d))` single-char fold, the int
    * toLowerCase/toUpperCase maps, or String.toLowerCase's expansion
    * sequences). For such a char c, `(?iu)c` matches exactly {c} and
    * `lower(translate(text))` preserves every occurrence, so substring
    * containment on the folded text is exact — emoji and symbols
    * qualify; every cased letter (and case-target like the Kelvin sign)
    * is excluded. Built once per JVM (~1.1 M code points, tens of ms);
    * proven against Java's own matcher in CaselessSafeSpec. */
  private[graft] object CaselessSafe {
    private lazy val safe: java.util.BitSet = {
      val targeted = new java.util.BitSet(0x110000)
      var d = 0
      while (d <= 0x10FFFF) {
        if (Character.isValidCodePoint(d) &&
            !(d >= Character.MIN_SURROGATE && d <= Character.MAX_SURROGATE)) {
          val up = Character.toUpperCase(d)
          val lo = Character.toLowerCase(d)
          val foldTo = Character.toLowerCase(up) // the regex engine's fold
          if (up != d) targeted.set(up)
          if (lo != d) targeted.set(lo)
          if (foldTo != d) targeted.set(foldTo)
          // String lowercasing can EXPAND (İ → i + combining dot): any
          // code point such an expansion produces can be INTRODUCED into
          // the folded text by a different source char — not isolated
          val s = new String(Character.toChars(d))
          val ls = s.toLowerCase(java.util.Locale.ROOT)
          if (ls != s) ls.codePoints().forEach(cp => if (cp != d) targeted.set(cp))
        }
        d += 1
      }
      val out = new java.util.BitSet(0x110000)
      var c = 0x80
      while (c <= 0x10FFFF) {
        if (Character.isValidCodePoint(c) &&
            !(c >= Character.MIN_SURROGATE && c <= Character.MAX_SURROGATE) &&
            Character.toUpperCase(c) == c && Character.toLowerCase(c) == c &&
            Character.toTitleCase(c) == c && !targeted.get(c))
          out.set(c)
        c += 1
      }
      out
    }
    def isSafe(cp: Int): Boolean = cp > 0x7f && safe.get(cp)
  }

  /** The recursive-descent worker behind [[requiredLiterals]] — one
    * instance per pattern parse (driver-side, once per condition per
    * drain). All region arguments are [start, end) over `p`. */
  private final class LiteralExtractor(p: String) {
    private val MaxDepth = 6 // nested-group mining bound
    private val MaxNeedles = 64 // any-of set bound (screen stays selective)
    private val MaxReps = 16 // materialized copies of an exact repetition

    /** Any-of literal set for the alternation spanning [s,e): every
      * (?iu) match of the region contains ≥1 returned literal. None =
      * stand down (some branch has no guaranteed literal). */
    def alternation(s: Int, e: Int, depth: Int): Option[Seq[String]] = {
      if (depth > MaxDepth) return None
      // split on top-level '|' honoring escapes, classes, groups
      val parts = Seq.newBuilder[(Int, Int)]
      var start = s
      var i = s
      while (i < e) {
        p.charAt(i) match {
          case '\\' => i += 2
          case '[' => val j = skipClass(i); if (j < 0 || j > e) return None; i = j
          case '(' => val j = skipGroup(i); if (j < 0 || j > e) return None; i = j
          case '|' => parts += ((start, i)); start = i + 1; i += 1
          case _ => i += 1
        }
      }
      if (i > e) return None // trailing '\' ran past the region
      parts += ((start, e))
      val sets = parts.result().map { case (a, b) => branch(a, b, depth) }
      if (sets.exists(_.isEmpty)) None
      else {
        val all = sets.flatMap(_.get).distinct
        if (all.isEmpty || all.size > MaxNeedles) None else Some(all)
      }
    }

    /** The best any-of set for ONE concatenation branch: the longest
      * guaranteed literal run if one exists, else the strongest set
      * mined from a non-optional inner group. */
    private def branch(s: Int, e: Int, depth: Int): Option[Seq[String]] = {
      val cur = new java.lang.StringBuilder
      // (minLen, count, -totalLen, lits): pick max minLen, then fewest
      // needles, then longest total — a long single run beats a group set
      var candidates = List.empty[(Int, Int, Int, Seq[String])]
      var i = s
      var failed = false
      def endRun(): Unit = {
        // a 1-char ASCII run is unselective (pure screen overhead), but a
        // single caseless symbol/emoji IS selective — accept runs of >= 2
        // UTF-16 units or any run carrying a non-ASCII (CaselessSafe) char
        val selective = cur.length >= 2 ||
          (cur.length == 1 && cur.charAt(0) > 0x7f)
        if (cur.length > 0 && selective) {
          val lit = cur.toString.toLowerCase(java.util.Locale.ROOT)
          candidates ::= ((lit.length, 1, -lit.length, Seq(lit)))
        }
        cur.setLength(0)
      }
      /** Quantifier after an atom: Some((min, exactCount)); None = no
        * quantifier. Malformed `{…` sets `failed`. Also consumes a
        * trailing reluctant/possessive modifier. */
      def quant(): Option[(Int, Boolean)] = {
        def mod(): Unit =
          if (i < e && (p.charAt(i) == '?' || p.charAt(i) == '+')) i += 1
        if (i >= e) None
        else p.charAt(i) match {
          case '?' => i += 1; mod(); Some((0, false))
          case '*' => i += 1; mod(); Some((0, false))
          case '+' => i += 1; mod(); Some((1, false))
          case '{' =>
            var j = i + 1; var m = 0; var anyM = false
            while (j < e && p.charAt(j).isDigit && m <= 1000000) {
              m = m * 10 + (p.charAt(j) - '0'); anyM = true; j += 1
            }
            if (!anyM || j >= e || m > 1000000) { failed = true; None }
            else if (p.charAt(j) == '}') { i = j + 1; mod(); Some((m, true)) }
            else if (p.charAt(j) == ',') {
              var k = j + 1; var n2 = 0; var anyN = false
              while (k < e && p.charAt(k).isDigit && n2 <= 1000000) {
                n2 = n2 * 10 + (p.charAt(k) - '0'); anyN = true; k += 1
              }
              if (k < e && p.charAt(k) == '}' && n2 <= 1000000) {
                i = k + 1; mod(); Some((m, anyN && n2 == m))
              } else { failed = true; None }
            } else { failed = true; None }
          case _ => None
        }
      }
      /** A literal token (one ASCII char, or one caseless-safe non-ASCII
        * code point as 1–2 UTF-16 units), then its quantifier. */
      def literalTok(tok: String): Unit = {
        cur.append(tok)
        quant() match {
          case None => ()
          case Some((0, _)) => // optional: retract, split (colou?r → colo, r)
            cur.setLength(cur.length - tok.length); endRun()
          case Some((m, true)) if m <= MaxReps => // exact: run stays contiguous
            var k = 1; while (k < m) { cur.append(tok); k += 1 }
          case Some((m, _)) => // at-least-m (or huge exact): the FIRST m
            // copies are adjacent to the prefix; what follows them is not
            val reps = math.min(m, MaxReps)
            var k = 1; while (k < reps) { cur.append(tok); k += 1 }
            endRun()
        }
      }
      def literalChar(ch: Char): Unit = literalTok(String.valueOf(ch))
      /** A consuming atom whose matched text is unknown: split the run,
        * swallow any quantifier (whatever the count, we claim nothing). */
      def breaker(): Unit = { endRun(); quant(); () }
      /** Parse the hex payload of a `\ uXXXX` / `\ xXX` / `\ x{h…h}`
        * escape with `i` just past the 'u'/'x'; returns the code point and
        * advances `i`, or -1 (malformed → the caller stands down; Java
        * would reject the pattern too). For `\ uXXXX` yielding a HIGH
        * surrogate, a directly following `\ uXXXX` low surrogate combines
        * into the supplementary code point, mirroring Java's parse. */
      def hexEscape(kind: Char): Int = {
        def hex(len: Int): Int = {
          if (i + len > e) return -1
          var v = 0
          var k = 0
          while (k < len) {
            val d = Character.digit(p.charAt(i + k), 16)
            if (d < 0) return -1
            v = v * 16 + d
            k += 1
          }
          i += len
          v
        }
        if (kind == 'u') {
          val v = hex(4)
          if (v >= 0 && Character.isHighSurrogate(v.toChar) && i + 6 <= e &&
              p.charAt(i) == '\\' && p.charAt(i + 1) == 'u') {
            val save = i
            i += 2
            val lo = hex(4)
            if (lo >= 0 && Character.isLowSurrogate(lo.toChar))
              Character.toCodePoint(v.toChar, lo.toChar)
            else { i = save; v } // unpaired high surrogate: caller breakers
          } else v
        } else if (i < e && p.charAt(i) == '{') {
          val close = p.indexOf('}', i + 1)
          if (close < 0 || close >= e || close == i + 1) -1
          else {
            var v = 0
            var k = i + 1
            while (k < close && v >= 0) {
              val d = Character.digit(p.charAt(k), 16)
              v = if (d < 0 || v > 0x10FFFF) -1 else v * 16 + d
              k += 1
            }
            i = close + 1
            if (v > 0x10FFFF) -1 else v
          }
        } else hex(2)
      }
      /** One group atom at `i`: classify `(?...)` forms, skip or mine. */
      def group(): Unit = {
        val close = skipGroup(i) // index AFTER ')'
        if (close < 0 || close > e) { failed = true; return }
        val gClose = close - 1 // the ')' itself
        var bodyStart = i + 1
        var recursable = true
        var noop = false // a safe inline-flag toggle: zero-width, run continues
        if (bodyStart < gClose && p.charAt(bodyStart) == '?') {
          val c2 = if (bodyStart + 1 < gClose) p.charAt(bodyStart + 1) else ')'
          c2 match {
            case ':' => bodyStart += 2
            case '=' | '!' | '>' => recursable = false // lookaround / atomic
            case '<' =>
              val c3 = if (bodyStart + 2 < gClose) p.charAt(bodyStart + 2) else ')'
              if (c3 == '=' || c3 == '!') recursable = false // lookbehind
              else { // named capture (?<name>…)
                val gt = p.indexOf('>', bodyStart + 2)
                if (gt < 0 || gt >= gClose) { failed = true; return }
                bodyStart = gt + 1
              }
            case f if f.isLetter || f == '-' =>
              // inline flags: scan to ':' (scoped) or the ')' (toggle).
              // ON-flags must be screen-invisible — i/u (case: the screen
              // is CI-always, a superset), m/s/d (anchors and dot are
              // breakers anyway), U (class semantics; classes are
              // breakers). 'x' (COMMENTS erases pattern whitespace) or an
              // unknown ON-flag poisons literal extraction. OFF-flags
              // (after '-') only shrink the language — any are safe.
              var j = bodyStart + 1
              var off = false
              var safe = true
              while (j < gClose && p.charAt(j) != ':') {
                val fl = p.charAt(j)
                if (fl == '-') off = true
                else if (!off && "idmsuU".indexOf(fl.toInt) < 0) safe = false
                else if (off && !fl.isLetter) safe = false
                j += 1
              }
              if (j >= gClose) { // toggle `(?flags)` — applies to the REST
                if (safe) noop = true else { failed = true; return }
              } else { // scoped `(?flags:body)`
                if (safe) bodyStart = j + 1
                else recursable = false // x-scoped: skip the body (sound)
              }
            case _ => failed = true; return // `(?)`, `(?P<…` and friends
          }
        }
        if (noop) { i = close } // zero-width no-op: the run continues THROUGH it
        else {
          endRun() // the group's matched text intervenes
          i = close
          val minQ = quant().map(_._1).getOrElse(1)
          if (!failed && recursable && minQ >= 1 && depth < MaxDepth &&
              bodyStart < gClose) {
            // non-optional group: every match contains a match of the
            // body, so the body's any-of set serves the whole branch
            alternation(bodyStart, gClose, depth + 1).foreach { lits =>
              candidates ::=
                ((lits.map(_.length).min, lits.size, -lits.map(_.length).sum, lits))
            }
          }
        }
      }
      while (i < e && !failed) {
        val c = p.charAt(i)
        c match {
          case '\\' =>
            if (i + 1 >= e) failed = true
            else {
              val esc = p.charAt(i + 1)
              i += 2
              if (esc == 'b' || esc == 'B' || esc == 'A' || esc == 'G' ||
                  esc == 'z' || esc == 'Z') breaker() // zero-width: conservative split
              else if ("dDsSwWhHvVRX".indexOf(esc.toInt) >= 0) breaker() // class
              else if (esc.isDigit) { // backref / octal: consume the digits
                while (i < e && p.charAt(i).isDigit) i += 1
                breaker()
              } else if (esc == 'n' || esc == 't' || esc == 'r' || esc == 'f' ||
                  esc == 'a' || esc == 'e') breaker() // control-char literal
              else if (esc == 'u' || esc == 'x') {
                // hex escape: a JSON-escaped emoji (`🧶`) or
                // `\x{1F9F6}` is a literal code point — same admission
                // rule as a raw char (printable ASCII or caseless-safe)
                val cp = hexEscape(esc)
                if (cp < 0) failed = true
                else if (cp >= 0x20 && cp <= 0x7e)
                  literalTok(String.valueOf(cp.toChar))
                else if (CaselessSafe.isSafe(cp) &&
                    !(cp >= Character.MIN_SURROGATE && cp <= Character.MAX_SURROGATE))
                  literalTok(new String(Character.toChars(cp)))
                else breaker() // cased / control / unpaired surrogate
              } else if (esc.isLetter) failed = true // \c \p \k \N …
              else if (esc >= 0x20 && esc <= 0x7e) literalChar(esc) // escaped punct
              else breaker() // escaped non-ASCII char
            }
          case '[' =>
            val j = skipClass(i)
            if (j < 0 || j > e) failed = true
            else { endRun(); i = j; quant(); () }
          case '(' => group()
          case '.' => endRun(); i += 1; quant(); () // any-char: splits the run
          case '^' | '$' => endRun(); i += 1; quant(); () // zero-width anchors
          case '*' | '+' | '?' | '{' | '}' | ')' => failed = true // stray
          case ch if ch >= 0x20 && ch <= 0x7e => i += 1; literalChar(ch)
          case ch if ch > 0x7f =>
            // non-ASCII literal: a CASELESS FOLD-ISOLATED code point
            // (emoji, symbols) is a sound needle char; cased/targeted
            // chars split the run (fold-unsound under (?iu))
            val cp = p.codePointAt(i)
            val cs = Character.charCount(cp)
            i += cs
            if (i <= e && CaselessSafe.isSafe(cp))
              literalTok(new String(Character.toChars(cp)))
            else breaker()
          case _ => i += 1; breaker() // control chars
        }
      }
      if (failed) None
      else {
        endRun()
        if (candidates.isEmpty) None
        else Some(candidates.minBy { case (minLen, count, negTotal, _) =>
          (-minLen, count, negTotal)
        }._4)
      }
    }

    /** Index after the `]` closing the class opened at `open`, or -1.
      * Tracks Java's nested-class unions `[a[b]]`; a `]` directly after
      * `[` or `[^` is dialect-ambiguous (POSIX literal-]) → -1. */
    private def skipClass(open: Int): Int = {
      var i = open + 1
      var depth = 1
      var atStart = true
      while (i < p.length) {
        val c = p.charAt(i)
        if (c == '\\') { i += 2; atStart = false }
        else if (c == '^' && atStart) i += 1 // negation marker: still "at start"
        else if (c == ']') {
          if (atStart) return -1
          depth -= 1; i += 1
          if (depth == 0) return i
          atStart = false
        } else if (c == '[') { depth += 1; i += 1; atStart = true }
        else { i += 1; atStart = false }
      }
      -1
    }

    /** Index after the `)` closing the group opened at `open`, or -1.
      * Routes classes through [[skipClass]] — `(` `)` `|` inside a class
      * are literals and must not bracket. */
    private def skipGroup(open: Int): Int = {
      var i = open + 1
      var level = 1
      while (i < p.length) {
        p.charAt(i) match {
          case '\\' => i += 2
          case '[' => val j = skipClass(i); if (j < 0) return -1; i = j
          case '(' => level += 1; i += 1
          case ')' => level -= 1; i += 1; if (level == 0) return i
          case _ => i += 1
        }
      }
      -1
    }
  }

  /** The non-ASCII characters Java's `(?iu)` single-character folding
    * equates with an ASCII letter — mapped to that letter BEFORE
    * lowercasing (İ first: `toLowerCase` would explode it into i +
    * combining dot and break substring adjacency). Exhaustively proven
    * complete over the BMP by ContainsAnyFoldedSpec's fold-table test. */
  private val FoldFrom = "ſKİı" // ſ KELVIN-K İ ı
  private val FoldTo = "skii"

  /** OR-of-includes PREFILTER for [[fanOut]]: every cascade branch
    * requires its condition's include regex to match, so a post matching
    * NONE of them cannot survive any branch — it can skip the width-way
    * nested loop entirely. The screen is ONE Aho–Corasick pass per post
    * ([[org.apache.spark.sql.graft.ContainsAnyFolded]]) over the
    * lowercased (fold-mapped) ALT-EXTENDED text, with one REQUIRED
    * literal per include-regex branch as the needles — O(|text|) per
    * post whatever the width, where both the pair loop and a regex
    * alternation pay O(|text|·width) (the alternation form was measured
    * barely ahead of the loop it screened — SCALE.md fanout section).
    * Always a SUPERSET filter: alt-extended text for everyone, and a
    * needle hit only admits the post into the loop, never past it.
    *
    * None (fan-out unchanged) when any condition defeats the
    * extraction ([[requiredLiterals]]) — soundness over coverage. */
  def includePrefilter(cs: Seq[Condition]): Option[Column] = {
    if (cs.isEmpty) return None
    val perCond = cs.map(c => requiredLiterals(c.inputRegex))
    if (perCond.exists(_.isEmpty)) None
    else {
      val needles = perCond.flatMap(_.get).distinct
      val folded = lower(translate(
        searchText(includeAltText = true), FoldFrom, FoldTo))
      Some(org.apache.spark.sql.graft.ContainsAnyFolded(folded, needles))
    }
  }

  /** [[fanOut]] with the include screen applied PER PARTITION of the
    * condition set, not all-or-nothing: conditions whose include regex
    * yields required literals are candidates only for the posts holding
    * one of their needles; the (typically few) unscreenable ones are
    * candidates for every post. Both kinds ride ONE inverted-index pass
    * ([[fanOutIndexed]]): the unscreenable conditions take fixed
    * ordinals that every post's candidate list carries, so the posts are
    * scanned (and, on the firehose, CBOR-decoded) once. One unscreenable
    * condition then costs one candidate pair per post instead of
    * silently disabling the screen for the other 999 — the mixed
    * standing-query set a real deployment has. A set with no screenable
    * condition is the plain crossJoin [[fanOut]], also one scan.
    * Row-equivalence with the unscreened fan-out is spec-pinned
    * (FilterCascadeSpec).
    *
    * CANDIDATE-DENSITY GATE (r17): a condition whose needle is
    * ultra-common (a universal literal — the misconfigured-feed regime)
    * makes ~every post a candidate, and the indexed form then pays the
    * explode+join overhead on the SAME pair volume the crossJoin handles
    * more cheaply (measured ~2.3× — SCALE.md worstcase row). A one-time
    * per-condition-set probe estimates each screenable condition's
    * document frequency on a bounded sample of the stream (one
    * `limit(n)` scan, one tagged-automaton pass per sampled text,
    * memoized JVM-wide by condition-set identity so steady-state drains
    * pay nothing) and DEMOTES conditions above
    * `spark.graft.fanout.densityGateThreshold` (default 0.5) to the
    * every-post ordinals the unscreenable conditions already have.
    * A set first sighted on a drain too small to judge arms LATER from
    * accumulator counters the indexed scan itself feeds — no per-drain
    * re-probe, no source re-execution ([[densityDemoted]]).
    * `spark.graft.fanout.densityGateSample` (default 2048) bounds the
    * probe; 0 disables the gate. */
  def fanOutScreened(spark: org.apache.spark.sql.SparkSession, posts: DataFrame,
      cs: Seq[Condition], profiles: Option[DataFrame]): DataFrame = {
    // parse each include ONCE per drain (width × one driver-side parse,
    // not two) and thread the literals through to the index build
    val parsed = cs.map(c => c -> requiredLiterals(c.inputRegex))
    val (screenable0, rest0) = parsed.partition(_._2.isDefined)
    val (demotedKeys, probe) = densityDemoted(spark, posts,
      screenable0.map { case (c, lits) => (c, lits.get) })
    val (demoted, screenable) =
      screenable0.partition(p => demotedKeys.contains(p._1.key))
    if (screenable.isEmpty)
      fanOut(posts, conditionsDf(spark, cs), profiles)
    else fanOutIndexed(spark, posts,
      screenable.map { case (c, lits) => (c, lits.get) },
      (rest0 ++ demoted).map(_._1), profiles, probe)
  }

  /** JVM-wide memo for the density gate's probe verdicts: standing-query
    * sets are stable across micro-batch drains, so the (bounded) sample
    * scan runs once per distinct condition set, not once per drain.
    * Bounded: a long-lived process whose condition sets churn (admin
    * CRUD) must not grow this without limit — past [[DensityMemoMax]]
    * entries the map resets (worst case: one extra probe per live set). */
  private val DensityMemoMax = 64
  private val densityMemo =
    new java.util.concurrent.ConcurrentHashMap[String, GateState]()

  /** Gate state per condition set: armed with a verdict, or still
    * accumulating the bootstrap-window scan counters. */
  private sealed trait GateState
  private final case class GateArmed(demoted: Set[String]) extends GateState
  private final class GateProbing(
      val probe: org.apache.spark.sql.graft.DensityProbe) extends GateState

  /** Minimum rows before a density verdict is trusted — below this a
    * sample cannot distinguish a universal literal from a merely common
    * one. */
  private val GateMinRows = 256

  /** Condition keys whose estimated candidate density exceeds the gate
    * threshold, plus — while the set is still in its bootstrap window —
    * the scan-side probe [[fanOutScreened]] must thread into the indexed
    * pass. Empty verdict when the gate is off or the set is empty.
    *
    * Arming protocol: the FIRST sighting of a condition set pays one
    * bounded `limit(n)` sample scan (memoized — steady-state drains pay
    * nothing). If that drain is too small to judge (< [[GateMinRows]]
    * rows — the bootstrap-tiny window), the gate does NOT freeze an
    * unarmed verdict forever (the r17 behavior): it registers
    * accumulator-backed counters that the
    * [[org.apache.spark.sql.graft.MatchedConditionsFolded]] scan — which
    * already runs every drain — feeds as a side-output, with no extra
    * job and no source re-execution (per-drain re-probes double
    * streaming source metrics; see DurablePipelineSpec). Once the
    * cumulative scanned rows cross the floor, the NEXT drain flips the
    * memo to an armed verdict computed from those counters. Until then
    * the set rides ungated — the r16 plan, ~1× the same-set crossJoin
    * at the adversarial ceiling. */
  private[graft] def densityDemoted(spark: org.apache.spark.sql.SparkSession,
      posts: DataFrame, condLits: Seq[(Condition, Seq[String])])
      : (Set[String], Option[org.apache.spark.sql.graft.DensityProbe]) = {
    if (condLits.isEmpty) return (Set.empty, None)
    val sampleN = spark.conf.getOption("spark.graft.fanout.densityGateSample")
      .map(_.toInt).getOrElse(2048)
    if (sampleN <= 0) return (Set.empty, None)
    val threshold = spark.conf.getOption("spark.graft.fanout.densityGateThreshold")
      .map(_.toDouble).getOrElse(0.5)
    // applicationId-keyed: accumulators die with their SparkContext, so a
    // probing state must never outlive the context that registered it
    val memoKey = condLits.iterator
      .map { case (c, _) => c.key + "\u0000" + c.inputRegex }
      .mkString("\u0001") + s"|$sampleN|$threshold|" +
      spark.sparkContext.applicationId
    def verdictFrom(hits: IndexedSeq[Long], rows: Long): Set[String] = {
      val cut = threshold * rows
      condLits.iterator.zipWithIndex.collect {
        case ((c, _), i) if hits(i) > cut => c.key
      }.toSet
    }
    // probe OUTSIDE the map (a Spark collect inside computeIfAbsent would
    // hold the bin lock for the job's duration, blocking sibling sets)
    densityMemo.get(memoKey) match {
      case GateArmed(demoted) => (demoted, None)
      case probing: GateProbing =>
        if (probing.probe.rows.value >= GateMinRows) {
          // enough rows accumulated across the drains since bootstrap —
          // arm the gate (racing drains both compute a verdict from the
          // same monotone counters; last write wins, both sound). The
          // verdict is FROZEN, so the (hits, rows) pair it divides must
          // be consistent even while a sibling drain's tasks are still
          // merging accumulator updates: read hits BEFORE rows and
          // require rows unchanged across a re-read, retrying while it
          // moves. If the counters never settle, the final pair still
          // has denominator ≥ the rows the numerator saw — the ratio
          // UNDERestimates density, biased toward not demoting
          // (routing-only: demotion is row-equivalent).
          var hits = probing.probe.hits.value
          var rows = probing.probe.rows.value
          var tries = 0
          while (probing.probe.rows.value != rows && tries < 8) {
            hits = probing.probe.hits.value
            rows = probing.probe.rows.value
            tries += 1
          }
          val verdict = verdictFrom(hits.toIndexedSeq, rows)
          densityMemo.put(memoKey, GateArmed(verdict))
          (verdict, None)
        } else (Set.empty, Some(probing.probe)) // keep counting this drain
      case null =>
        val folded = lower(translate(
          searchText(includeAltText = true), FoldFrom, FoldTo))
        val texts = posts.select(folded.as("__t")).limit(sampleN)
          .collect().map(r => if (r.isNullAt(0)) "" else r.getString(0))
        if (densityMemo.size > DensityMemoMax) densityMemo.clear()
        if (texts.length >= GateMinRows) {
          val needleTags = condLits.zipWithIndex.flatMap { case ((_, lits), i) =>
            lits.map(n => (n, i))
          }.distinct
          val ac = org.apache.spark.sql.graft.AhoCorasick
            .tagged(needleTags, condLits.size)
          val hits = new Array[Long](condLits.size)
          texts.foreach(t => ac.matchedTags(t).foreach(i => hits(i) += 1))
          val verdict = verdictFrom(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(hits),
            texts.length.toLong)
          densityMemo.putIfAbsent(memoKey, GateArmed(verdict))
          (verdict, None)
        } else {
          // bootstrap-tiny: arm later from the scan's own counters
          val probe = org.apache.spark.sql.graft.DensityProbe
            .register(spark.sparkContext, condLits.size)
          val prior = densityMemo.putIfAbsent(memoKey, new GateProbing(probe))
          val shared = prior match {
            case p: GateProbing => p.probe // a racing drain won: share its counters
            case _ => probe
          }
          (Set.empty, Some(shared))
        }
    }
  }


  /** The INVERTED-INDEX fan-out: one
    * [[org.apache.spark.sql.graft.MatchedConditionsFolded]] scan per
    * post emits the ordinals of the conditions whose required literal
    * the post contains, followed by the ordinals of the `unscreened`
    * conditions, which every post carries; the explode +
    * broadcast-HASH-join on that ordinal then evaluates the full cascade
    * predicate only for the CANDIDATE pairs. Total work is |posts| +
    * |candidate pairs| in every match regime — the crossJoin form pays
    * |posts| × width even when a post can only ever match a handful of
    * feeds (SCALE.md fanout section: dense width-1000 race 1.1 s vs
    * 9.9 s). Still a superset funnel: a needle hit only ADMITS a pair to
    * the predicate.
    *
    * `probe` (bootstrap window only) rides the scan as the density
    * gate's arming side-output — see [[densityDemoted]]. */
  private def fanOutIndexed(spark: org.apache.spark.sql.SparkSession,
      posts: DataFrame, condLits: Seq[(Condition, Seq[String])],
      unscreened: Seq[Condition], profiles: Option[DataFrame],
      probe: Option[org.apache.spark.sql.graft.DensityProbe]): DataFrame = {
    import spark.implicits._
    val cs = condLits.map(_._1) ++ unscreened
    val needleTags = condLits.zipWithIndex.flatMap { case ((_, lits), i) =>
      lits.map(n => (n, i))
    }.distinct
    val folded = lower(translate(
      searchText(includeAltText = true), FoldFrom, FoldTo))
    val condIdx = cs.zipWithIndex.map { case (c, i) =>
      (i, c.key, c.inputRegex, c.invertRegex, c.lang.orNull,
        c.labelDisable, c.replyDisable, c.imageOnly, c.includeAltText,
        c.profileMatch.map(_.textTerm).orNull,
        c.profileMatch.map(_.profileRegex).orNull)
    }.toDF("__cidx", "__ckey", "__in", "__out", "__lang", "__nolabel",
      "__noreply", "__img", "__alt", "__pterm", "__pre")
    // profiles join AFTER the candidate explode: the screen has already
    // dropped the no-candidate posts, so the (broadcast, per-row-cheap)
    // profile probe runs on candidates only — in the sparse regime that
    // is near-zero rows instead of the whole stream
    val candidates = withProfileText(
      posts.withColumn("__cidx", explode(
        org.apache.spark.sql.graft.MatchedConditionsFolded(
          folded, needleTags, condLits.size, probe, unscreened.size)))
        .join(broadcast(condIdx), "__cidx"),
      profiles)
    cascadeFinish(candidates)
  }

  /** Scale-out fan-out: evaluate ALL conditions in one distributed job —
    * posts × broadcast(conditions) with column-typed regex patterns
    * (SURVEY §7.4#6). One pass over the post stream regardless of the
    * number of standing feeds; no driver loop over conditions.
    *
    * `prefilter` (from [[includePrefilter]], when the caller holds the
    * driver-side condition list) screens posts BEFORE the nested loop.
    */
  def fanOut(posts: DataFrame, conditions: DataFrame, profiles: Option[DataFrame],
      prefilter: Option[Column] = None): DataFrame = {
    val screened = prefilter.fold(posts)(posts.filter)
    val joined = withProfileText(screened, profiles)
      .crossJoin(broadcast(conditions.select(
        col("key").as("__ckey"), col("inputRegex").as("__in"),
        col("invertRegex").as("__out"), col("lang").as("__lang"),
        col("labelDisable").as("__nolabel"), col("replyDisable").as("__noreply"),
        col("imageOnly").as("__img"), col("includeAltText").as("__alt"),
        col("profileTerm").as("__pterm"), col("profileRegex").as("__pre"))))
    cascadeFinish(joined)
  }

  /** Posts plus the broadcast-joined `__profile_text` column (null when
    * no profile dimension is wired in) — shared by both fan-out forms. */
  private def withProfileText(posts: DataFrame,
      profiles: Option[DataFrame]): DataFrame = profiles match {
    case Some(pr) =>
      val p = pr.select(col("did").as("__pdid"),
        concat_ws(" ", coalesce(col("displayName"), lit("")),
          coalesce(col("description"), lit(""))).as("__profile_text"))
      posts.join(broadcast(p), posts("author.did") === col("__pdid"), "left")
        .drop("__pdid")
    case None => posts.withColumn("__profile_text", lit(null).cast("string"))
  }

  /** The cascade predicate + stored-Post projection over a frame carrying
    * the post columns, `__profile_text`, and the `__`-renamed condition
    * columns — however the condition rows were joined in (crossJoin or
    * the inverted-index candidate join). */
  private def cascadeFinish(joined: DataFrame): DataFrame = {
    val stBase = coalesce(col("record.text"), lit(""))
    val stAlt = concat_ws("\n", stBase,
      array_join(filter(transform(coalesce(col("record.embed.images"), array()),
        i => i("alt")), a => a.isNotNull), "\n"))
    val st = when(col("__alt"), stAlt).otherwise(stBase)
    val ciCol = (p: Column) => concat(lit("(?iu)"), p)
    // COLUMN-typed patterns (the broadcast conditions side) take the
    // cached-regex expressions: stock RLike compiles a non-literal pattern
    // per ROW, and RegExpCount's single-entry lastRegex cache misses on
    // every evaluation because the crossJoin sweeps the condition side
    // between consecutive rows — at width (1 000 standing feeds) the
    // compile cost dominated the whole drain (SCALE.md fanout section).
    // The include test is EXISTENCE, so it takes the find-first form
    // directly (what RegexCountToRLike rewrites the literal path to);
    // the profile gate needs the actual counts.
    import org.apache.spark.sql.graft.{RegexpCountCached, RLikeCached}
    // the match COUNTS exist only for the profile gate. m1's pattern is
    // DELIBERATELY not coalesced: a null __pterm must null-propagate
    // through the count (zero work) rather than default to "" — with
    // coalesce(pterm, ''), every no-profileMatch pair that reached the
    // gate count-walked its whole text against the bare zero-width
    // '(?iu)' pattern (one find() per character), measured 28.7 → 10.3 s
    // on the 200 k × 1000 width race (SCALE.md fanout section). The
    // isNull disjunct below already owns the verdict for those rows, so
    // the null m1 is never read.
    val m0 = RegexpCountCached(st, ciCol(col("__in")))
    val m1 = RegexpCountCached(st, ciCol(col("__pterm")))
    val pred =
      RLikeCached(st, ciCol(col("__in"))) &&
        (col("__out") === "" || !RLikeCached(st, ciCol(col("__out")))) &&
        (when(col("__img") === "imageOnly", imageCount > 0)
          .when(col("__img") === "textOnly", imageCount === 0)
          .otherwise(lit(true))) &&
        (!col("__nolabel") || size(coalesce(col("labels"), array())) === 0) &&
        (!col("__noreply") || col("record.reply").isNull) &&
        (col("__lang").isNull ||
          array_contains(coalesce(col("record.langs"), array()), col("__lang"))) &&
        (col("__pterm").isNull ||
          !(m1 > 0 && (m0 - m1) === 0) ||
          RLikeCached(coalesce(col("__profile_text"), lit("")), ciCol(col("__pre"))))

    joined.filter(pred).select(
      col("uri"),
      col("__ckey").as("key"),
      col("cid"),
      col("record.reply.parent.uri").as("replyParent"),
      col("record.reply.root.uri").as("replyRoot"),
      to_timestamp(col("record.createdAt")).as("indexedAt"))
  }

  /** Conditions as the DataFrame shape fanOut expects. */
  def conditionsDf(spark: org.apache.spark.sql.SparkSession, cs: Seq[Condition]): DataFrame = {
    import spark.implicits._
    cs.map(c => (c.key, c.inputRegex, c.invertRegex, c.lang.orNull,
        c.labelDisable, c.replyDisable, c.imageOnly, c.includeAltText,
        c.profileMatch.map(_.textTerm).orNull, c.profileMatch.map(_.profileRegex).orNull))
      .toDF("key", "inputRegex", "invertRegex", "lang", "labelDisable",
        "replyDisable", "imageOnly", "includeAltText", "profileTerm", "profileRegex")
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass native kernels for the per-document text signals the clean
  * gate consumes ([[graft.text.TextAnalytics]]).
  *
  * Why they exist: the portable `Column` formulations spell each signal as
  * regexp arithmetic — `length(c) - length(regexp_replace(c, cls, ""))`
  * per character class, one quoted-literal replace per language marker
  * (16 passes for lang-ID alone), a `\b`-alternation count for stopwords,
  * and `split` + `array_distinct` for the repetition ratio. That is ~20
  * java.util.regex passes plus two array materializations PER DOCUMENT —
  * measured as the dominant cost of the composed clean/export pipelines
  * (the round-3 `q_training_export` regression root-caused to exactly
  * this: the clean gate was 8.9 of its 18 cold seconds at sf0.1). These
  * kernels compute the same integers in one or two passes over the UTF-8
  * bytes, with no regex engine at all, and stay inside whole-stage codegen
  * as single static calls (same pattern as [[NfcExpression]]).
  *
  * VALUE PARITY is the contract: every field is bit-equal to its portable
  * regex formulation (which the DuckDB oracles replay), including the
  * weird edges — `split(trim(c), "\\s+")` yields a leading empty token
  * when the text starts with non-space whitespace (trim strips only
  * 0x20); quoted-literal `" m "` replacement is LEFT-TO-RIGHT
  * NON-OVERLAPPING, so adjacent markers ("the the the") undercount
  * exactly like the regex does; `\b` boundaries use the JDK's
  * Unicode-letter-or-digit word test, not the ASCII `\w` (see
  * [[TextSignals.isBoundWord]]). NativeSignalsSpec asserts field-by-field
  * equality against the Column formulations on the fixture corpus,
  * adversarial literals, and ScalaCheck-random strings; the driver's
  * DuckDB oracles (`t_quality`, `t_lang_id`, `t_stopword`,
  * `t_repetition`, `q_clean_corpus`) gate the same values end-to-end.
  *
  * All scanned character classes are ASCII, and in UTF-8 an ASCII byte
  * never occurs inside a multi-byte sequence — so byte scans find exactly
  * the code-point matches the regexes find.
  */
object TextSignals {

  /** Java-regex `\s` (no UNICODE_CHARACTER_CLASS): the 6 ASCII chars. */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Java-regex `\b`'s word test (JDK Bound node without
    * UNICODE_CHARACTER_CLASS): underscore or any Unicode letter/digit —
    * deliberately NOT the ASCII `\w` the alternation body uses.
    */
  @inline private def isBoundWord(cp: Int): Boolean =
    cp == '_' || Character.isLetterOrDigit(cp)

  /** Per-document stats struct, one tokenizing pass:
    * (chars, words, punct, upper, digits, distinct_tokens, top_bigram).
    *
    *  - chars  = `length(c)` (code points);
    *  - words  = `tokenCount(c)`: 0 for blank, else
    *    `size(split(trim(c), "\s+"))` — i.e. 1 + (whitespace runs inside
    *    the space-trimmed region), counting empty fields exactly like
    *    Spark's limit=-1 split;
    *  - punct/upper/digits = counts of `[.,;:!?]` / `[A-Z]` / `[0-9]`;
    *  - distinct_tokens = `size(array_distinct(tokens))` (binary equality);
    *  - top_bigram = the count of the most frequent ADJACENT token pair
    *    (0 when fewer than 2 tokens) — the Gopher repetition signal,
    *    computed doc-locally instead of exploding (id, w1, w2) rows into
    *    a corpus shuffle. Per-doc memory is O(distinct bigrams), bounded
    *    by document length — the right trade everywhere short of
    *    pathological single-document gigabyte inputs, which the
    *    extraction kernel's size gates exclude upstream.
    */
  def stats(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    var chars = 0L; var punct = 0L; var upper = 0L; var digits = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i)
      // count code points: every byte except UTF-8 continuations (10xxxxxx)
      if ((b & 0xc0) != 0x80) chars += 1
      if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' || b == '?') punct += 1
      else if (b >= 'A' && b <= 'Z') upper += 1
      else if (b >= '0' && b <= '9') digits += 1
      i += 1
    }
    // trim(c): strips 0x20 ONLY (Spark's two-arg-less trim), both ends
    var lo = 0
    while (lo < n && bytes(lo) == ' ') lo += 1
    var hi = n
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    var words = 0L
    var distinctTokens = 0L
    var topBigram = 0L
    // blank check is length(trim(c)) == 0: spaces-only text → 0 tokens
    if (hi > lo) {
      // split(trim, "\s+") with limit -1: fields between whitespace RUNS,
      // keeping empty leading/trailing fields (non-space whitespace ends)
      val seen = new java.util.HashSet[UTF8String]()
      val bigramCounts = new java.util.HashMap[UTF8String, Integer]()
      var prev: UTF8String = null
      var fieldStart = lo
      var j = lo
      def endField(endExcl: Int): Unit = {
        val tok = UTF8String.fromBytes(bytes, fieldStart, endExcl - fieldStart)
        words += 1
        if (seen.add(tok)) distinctTokens += 1
        if (prev != null) {
          // "w1 w2" join is injective as a bigram key: tokens are
          // whitespace-delimited, so neither side contains a space --
          // grouping by the joined key == grouping by the (w1, w2)
          // struct the relational twin and the oracle group by
          val key = UTF8String.concat(prev, SpaceSep, tok)
          val c = bigramCounts.merge(key, 1, (a, b2) => a + b2)
          if (c > topBigram) topBigram = c.longValue()
        }
        prev = tok
      }
      while (j < hi) {
        if (isWs(bytes(j))) {
          endField(j)
          j += 1
          while (j < hi && isWs(bytes(j))) j += 1
          fieldStart = j
        } else j += 1
      }
      endField(hi)
    }
    new GenericInternalRow(Array[Any](chars, words, punct, upper, digits, distinctTokens, topBigram))
  }

  /** One marker's contribution: left-to-right NON-OVERLAPPING occurrences
    * of `needle` in `hay` — exactly `regexp_replace(hay, quote(needle),
    * "")`'s match walk — times the needle's char length (the "characters
    * removed" integer the portable formulation publishes).
    */
  private def removedChars(hay: Array[Byte], needle: Array[Byte]): Long = {
    val nh = hay.length; val nn = needle.length
    var i = 0; var count = 0L
    while (i + nn <= nh) {
      var k = 0
      while (k < nn && hay(i + k) == needle(k)) k += 1
      if (k == nn) { count += 1; i += nn } else i += 1
    }
    count * nn
  }

  /** The normalized+padded haystack `" " + regexp_replace(lower(trim(c)),
    * "\s+", " ") + " "` as bytes — built in one scan (lower/trim via the
    * same UTF8String ops Spark's `lower`/`trim` expressions call, so the
    * bytes are identical).
    */
  private def paddedNormalized(s: UTF8String): Array[Byte] = {
    val lowered = s.trim().toLowerCase().getBytes
    val out = new java.io.ByteArrayOutputStream(lowered.length + 2)
    out.write(' ')
    var i = 0
    val n = lowered.length
    while (i < n) {
      if (isWs(lowered(i))) {
        out.write(' ')
        i += 1
        while (i < n && isWs(lowered(i))) i += 1
      } else { out.write(lowered(i)); i += 1 }
    }
    out.write(' ')
    out.toByteArray
  }

  /** Language-signal struct (m_en, m_es, m_de, m_fr, stop):
    *  - m_X = [[graft.text.TextAnalytics.markerMass]] — per-marker
    *    space-delimited non-overlapping literal count over the padded
    *    normalized text, times (marker length + 2);
    *  - stop = [[graft.text.TextAnalytics.stopTokenCount]] —
    *    `\b`-delimited exact stopword tokens over `lower(c)` (word runs of
    *    `[A-Za-z0-9_]`; a run matches iff it equals a stopword).
    * Marker/stopword config is compiled in from
    * [[graft.text.TextAnalytics.LangMarkers]] / `EnStopwords` — the same
    * constants the portable formulation and the oracles use.
    */
  def lang(s: UTF8String): InternalRow = {
    val padded = paddedNormalized(s)
    val masses = new Array[Any](MarkerNeedles.length + 1)
    var li = 0
    while (li < MarkerNeedles.length) {
      val needles = MarkerNeedles(li)
      var m = 0L
      var k = 0
      while (k < needles.length) { m += removedChars(padded, needles(k)); k += 1 }
      masses(li) = m
      li += 1
    }
    // stopword tokens over lower(c) — full text, not trimmed/normalized.
    // Java's `\b` word test is NOT the ASCII `\w`: the JDK Bound node
    // (no UNICODE_CHARACTER_CLASS) tests `ch == '_' ||
    // Character.isLetterOrDigit(ch)` — Unicode letters/digits count as
    // word characters for the BOUNDARY even though the alternation body
    // matches ASCII only. So "in" directly followed by an Arabic letter
    // is NOT a match (no boundary), while "the" before a combining mark
    // is. A countable token is therefore a maximal run of
    // boundary-word-like code points that exactly equals a stopword
    // (stopwords are all word-like, so a match can never be a proper
    // substring of a run). Found by the word-soup parity sweep.
    val lowered = s.toLowerCase().toString
    val n = lowered.length
    var stop = 0L
    var i = 0
    while (i < n) {
      val cp = lowered.codePointAt(i)
      if (isBoundWord(cp)) {
        val start = i
        while (i < n && isBoundWord(lowered.codePointAt(i)))
          i += Character.charCount(lowered.codePointAt(i))
        if (i - start <= StopMaxLen && StopSetStr.contains(lowered.substring(start, i)))
          stop += 1
      } else i += Character.charCount(cp)
    }
    masses(MarkerNeedles.length) = stop
    new GenericInternalRow(masses)
  }

  // marker needles " m " per language, in LangMarkers order (ASCII)
  private val MarkerNeedles: Array[Array[Array[Byte]]] =
    graft.text.TextAnalytics.LangMarkers.map { case (_, ms) =>
      ms.map(m => s" $m ".getBytes("US-ASCII")).toArray
    }.toArray

  private val SpaceSep: UTF8String = UTF8String.fromString(" ")

  private val StopSetStr: java.util.Set[String] = {
    val set = new java.util.HashSet[String]()
    graft.text.TextAnalytics.EnStopwords.foreach(set.add)
    set
  }
  private val StopMaxLen: Int = graft.text.TextAnalytics.EnStopwords.map(_.length).max
}

/** `graft_text_stats(string)` → struct<chars,words,punct,upper,digits,
  * distinct_tokens,top_bigram : bigint> — see [[TextSignals.stats]].
  */
case class TextStatsExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString(10)}")
  }
  override def dataType: DataType = TextStatsExpression.Schema
  override def prettyName: String = GraftFunctions.TextStatsName
  override protected def nullSafeEval(s: Any): Any =
    TextSignals.stats(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSignals.stats($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextStatsExpression {
  val Schema: StructType = StructType(Seq(
    StructField("chars", LongType, nullable = false),
    StructField("words", LongType, nullable = false),
    StructField("punct", LongType, nullable = false),
    StructField("upper", LongType, nullable = false),
    StructField("digits", LongType, nullable = false),
    StructField("distinct_tokens", LongType, nullable = false),
    StructField("top_bigram", LongType, nullable = false)))
}

/** `graft_lang_signals(string)` → struct<m_en,m_es,m_de,m_fr,stop :
  * bigint> — see [[TextSignals.lang]].
  */
case class LangSignalsExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString(10)}")
  }
  override def dataType: DataType = LangSignalsExpression.Schema
  override def prettyName: String = GraftFunctions.LangSignalsName
  override protected def nullSafeEval(s: Any): Any =
    TextSignals.lang(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSignals.lang($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangSignalsExpression {
  val Schema: StructType = StructType(
    graft.text.TextAnalytics.LangMarkers.map { case (l, _) =>
      StructField(s"m_$l", LongType, nullable = false) } :+
      StructField("stop", LongType, nullable = false))
}

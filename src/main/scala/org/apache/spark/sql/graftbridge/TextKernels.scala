package org.apache.spark.sql.graftbridge

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.internal.types.StringTypeWithCollation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Spark's `lower` on UTF8_BINARY text, byte for byte, without
  * `CollationAwareUTF8String`. Spark's `Lower` routes through that
  * class, whose static initializer builds a one-to-many title-case
  * table with ICU (~1.5 s and ~2.7 MB retained, once per JVM, even for
  * ASCII input) that lowercasing never reads. The same three branches
  * Spark takes: ASCII folds bytewise; otherwise ICU's
  * `UCharacter.toLowerCase` over the valid string when
  * `spark.sql.icu.caseMappings.enabled` is on, the JVM's
  * `String.toLowerCase` when it is off. Other collations delegate to
  * Spark's own `lower`.
  */
object CaseFold {
  def icuEnabled: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  def lower(s: UTF8String, useICU: Boolean): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else if (useICU) UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))
    else s.toLowerCase

  /** `lower(s)` under the collation, as a Java regex over it sees it:
    * valid UTF-8. The binary fold already is (its slow paths re-encode
    * a Java String); other collations' folds are re-decoded here, as
    * `regexp_replace` / `regexp_extract_all` would.
    */
  def lowerValid(s: UTF8String, binary: Boolean, collationId: Int, useICU: Boolean): UTF8String =
    if (binary) lower(s, useICU)
    else UTF8String.fromString(CollationSupport.Lower.exec(s, collationId, useICU).toString)

  /** Java code calling [[lowerValid]] from generated code. */
  val lowerValidCall: String = getClass.getName + ".MODULE$.lowerValid"
}

/** A string kernel that case-folds its input the way Spark's `lower`
  * does under the child's collation. Like Spark's `Lower.useICU`, the
  * ICU choice is read once per expression instance; codegen passes the
  * settings as literals, so every task folds alike.
  */
private[graftbridge] trait FoldsCase extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringTypeWithCollation(supportsTrimCollation = true))

  private lazy val collationId: Int = child.dataType.asInstanceOf[StringType].collationId
  protected lazy val binary: Boolean =
    CollationFactory.fetchCollation(collationId).isUtf8BinaryType
  private lazy val useICU: Boolean = CaseFold.icuEnabled

  protected final def folded(s: UTF8String): UTF8String =
    CaseFold.lowerValid(s, binary, collationId, useICU)

  /** Java code folding the string `c` as [[folded]] does. */
  protected final def foldedCode(c: String): String =
    s"${CaseFold.lowerValidCall}($c, $binary, $collationId, $useICU)"
}

/** `trim(regexp_replace(lower(text), '\\s+', ' '))` in one byte walk:
  * fold, collapse every run of `[ \t\n\x0B\f\r]` (Java regex `\s`) to
  * one space, drop the leading and trailing one. Binary-collated ASCII
  * text folds and collapses in the same pass; other text folds first
  * (Spark's fold, so malformed bytes come out as U+FFFD exactly as the
  * regex's decode makes them) and the walk copies the folded bytes.
  * The six whitespace bytes never occur inside a multi-byte sequence,
  * so the walk never decodes.
  */
case class NormalizeText(child: Expression) extends FoldsCase {
  override def dataType: DataType = child.dataType
  override def prettyName: String = "normalize_text"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val ascii = if (binary) NormalizeText.collapse(s, lowerAscii = true) else null
    if (ascii != null) ascii else NormalizeText.collapse(folded(s), lowerAscii = false)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = NormalizeText.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      (if (binary) s"${ev.value} = $cls.collapse($c, true);\n" else "") +
        s"if (${ev.value} == null) ${ev.value} = $cls.collapse(${foldedCode(c)}, false);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeText {
  /** Collapse `s`'s whitespace runs to single spaces and trim. With
    * `lowerAscii`, also fold A-Z, and give up (null) at the first
    * non-ASCII byte: such text needs the full fold first.
    */
  def collapse(s: UTF8String, lowerAscii: Boolean): UTF8String = {
    val n = s.numBytes()
    val out = new Array[Byte](n)
    var w = 0
    var gap = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (WordGramSupport.isWs(b)) gap = w > 0
      else {
        if (lowerAscii && b < 0) return null
        if (gap) { out(w) = 0x20; w += 1; gap = false }
        out(w) = if (lowerAscii && b >= 'A' && b <= 'Z') (b + 32).toByte else b
        w += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, w)
  }
}

/** Stopword hits of a text's case-folded `\S+` tokens, counted per
  * list — the language-ID and Gopher stopword features without the
  * fold + regex split + interpreted `filter` / `array_contains` per
  * list. One fold, one split on the whitespace class
  * `regexp_extract_all(…, '\\S+')` uses, one hash probe per token no
  * longer than the longest listed word.
  */
private[graftbridge] final class StopwordTable(lists: Seq[Seq[String]]) extends Serializable {
  require(lists.size <= 64, s"at most 64 stopword lists, got ${lists.size}")
  private val words: Array[String] = lists.flatten.distinct.toArray
  /** Bit j of `masks(i)`: list j holds word i. */
  private val masks: Array[Long] =
    words.map(w => lists.indices.filter(lists(_).contains(w)).map(1L << _).sum)
  private val maxLen = words.map(UTF8String.fromString(_).numBytes).maxOption.getOrElse(0)
  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    words.indices.foreach(i => m.put(UTF8String.fromString(words(i)), i))
    m
  }

  /** Per-list counts over the tokens of `s` (valid UTF-8, already
    * folded). `distinct` counts each listed word once however often it
    * occurs (how many of a list's words appear); otherwise every
    * occurrence counts.
    */
  def counts(s: UTF8String, distinct: Boolean): Array[Int] = {
    val out = new Array[Int](lists.size)
    val seen = if (distinct) new Array[Boolean](words.length) else null
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      while (i < n && WordGramSupport.isWs(s.getByte(i))) i += 1
      val start = i
      while (i < n && !WordGramSupport.isWs(s.getByte(i))) i += 1
      val len = i - start
      if (len > 0 && len <= maxLen) {
        val hit = index.get(UTF8String.fromAddress(base, off + start, len))
        if (hit != null && (seen == null || !seen(hit))) {
          if (seen != null) seen(hit) = true
          var m = masks(hit)
          while (m != 0L) {
            out(java.lang.Long.numberOfTrailingZeros(m)) += 1
            m &= m - 1
          }
        }
      }
    }
    out
  }
}

/** `size(filter(regexp_extract_all(lower(text), '\\S+'), t ->
  * array_contains(words, t)))`, or with `distinct` the number of
  * `words` that occur as a token (`Σ array_contains(tokens, w)`; the
  * words must be distinct). A null text gives what that formulation
  * gives: null, or -1 for the occurrence count under Spark's legacy
  * `size(null)`.
  */
case class StopwordHits(child: Expression, words: Seq[String], distinct: Boolean)
  extends FoldsCase {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "stopword_hits"

  @transient private lazy val table = new StopwordTable(Seq(words))
  private lazy val nullHits: Any =
    if (!distinct && SQLConf.get.legacySizeOfNull) -1 else null

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) nullHits
    else table.counts(folded(v.asInstanceOf[UTF8String]), distinct)(0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("stopwords", table)
    val c = child.genCode(ctx)
    val onNull = if (nullHits == null) s"${ev.isNull} = true;" else s"${ev.value} = $nullHits;"
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = false;
      int ${ev.value} = 0;
      if (${c.isNull}) { $onNull }
      else { ${ev.value} = $t.counts(${foldedCode(c.value)}, $distinct)[0]; }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Heuristic language ID: the code with the most stopword hits among
  * `langs` (code → words), ties to the lexicographically larger code,
  * "und" when nothing hits or the text is null — the argmax that
  * `array_max` over `struct(hits, code)` computes, from one fold and
  * one split shared by every language.
  */
case class LangId(child: Expression, langs: Seq[(String, Seq[String])]) extends FoldsCase {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "lang_id"

  @transient private lazy val codes: Array[UTF8String] =
    langs.map(l => UTF8String.fromString(l._1)).toArray
  @transient private lazy val table = new StopwordTable(langs.map(_._2))

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) LangId.Undetermined
    else LangId.best(table.counts(folded(v.asInstanceOf[UTF8String]), distinct = false), codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = LangId.getClass.getName + ".MODULE$"
    val t = ctx.addReferenceObj("stopwords", table)
    val cs = ctx.addReferenceObj("langCodes", codes, "UTF8String[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = ${c.isNull} ? $cls.Undetermined()
        : $cls.best($t.counts(${foldedCode(c.value)}, false), $cs);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangId {
  val Undetermined: UTF8String = UTF8String.fromString("und")

  /** The code with the most hits (> 0), ties to the larger code. */
  def best(hits: Array[Int], codes: Array[UTF8String]): UTF8String = {
    var b = -1
    var i = 0
    while (i < hits.length) {
      if (hits(i) > 0 && (b < 0 || hits(i) > hits(b) ||
          (hits(i) == hits(b) && codes(i).compareTo(codes(b)) > 0))) b = i
      i += 1
    }
    if (b < 0) Undetermined else codes(b)
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenization: `graft_bpe(text)` applies a
  * published merge table and emits the token-ID array — the single
  * most-executed computation of a real training-data pipeline (every
  * document, every run), and the step that turns every downstream
  * "token count" from a whitespace estimate into the real sequence
  * length (q_seq_pack / ShardExport pack on these lengths).
  *
  * Algorithm (Sennrich et al. 2016; the GPT-2 application shape):
  * pre-tokenize on single spaces with the space ATTACHED to each
  * non-initial word (so the flattened id stream is LOSSLESS — decode
  * is plain concatenation, no boundary bookkeeping); per pre-token,
  * repeatedly merge the adjacent symbol pair with the lowest merge
  * rank until none applies. IDs: a single-codepoint symbol is its
  * codepoint; a merged symbol is MergeIdBase + its merge rank (ranks
  * are string-bijective by construction, so id -> string is total).
  *
  * The merge table is a FROZEN PUBLISHED ARTIFACT, exactly as
  * production tokenizers ship vocab files: queries never retrain it
  * (this one was trained offline, deterministically — most frequent
  * pair first, ties to the lexicographically smallest — on the corpus
  * word distribution; swapping in a 50k-merge GPT-2 table is the same
  * broadcast-a-constant shape). Trained tables have the MONOTONE
  * property (a merge's operands exist before it), which makes
  * "merge all occurrences of the best pair" and "merge the leftmost
  * best occurrence, re-scan" provably equivalent — the Expression uses
  * the former, the DuckDB oracle's recursive CTE the latter, and the
  * monotone property is spec-pinned (BpeSpec) so the equivalence can't
  * silently rot if the table is swapped.
  *
  * Scale shape: a pure per-row scan-local Expression — no shuffle, no
  * joins, no state; the merge loop runs inside whole-stage codegen via
  * a static call (the same compiled-once pattern as catalyst's own
  * StaticInvoke), and the table lives in a JVM static, shipped once
  * per executor with the closure, not per row.
  */
object Bpe {

  /** Merged-symbol IDs start here — above every BMP/astral codepoint,
    * so codepoint IDs and merge IDs can never collide for any input.
    */
  val MergeIdBase = 65536

  /** The published merge table, rank order (see object Scaladoc). */
  val Merges: Vector[(String, String)] = Vector(
    (" ", "s"), ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("m", "er"),
    ("a", "t"), ("l", "u"), (" ", "c"), ("a", "s"), (" ", "b"), (" ", "v"),
    ("a", "r"), ("p", "ar"), (" ", "f"), (" ", "a"), (" ", "t"), ("j", "o"),
    ("jo", "in"), ("as", "h"), ("h", "ash"), (" ", "join"), ("s", "t"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("a", "n"), ("c", "an"),
    ("lu", "m"), ("lum", "n"), ("o", "lumn"), ("o", "mer"), ("st", "omer"),
    ("u", "stomer"), ("i", "l"), ("il", "t"), ("ilt", "er"), (" ", "hash"),
    ("a", "l"), ("al", "l"), ("m", "all"), (" ", "row"), (" s", "can"),
    (" ", "d"), (" s", "mall"), ("g", "e"), ("l", "ow"), ("mer", "ge"),
    (" b", "atch"), (" c", "olumn"), (" f", "ilter"), ("c", "t"),
    ("ct", "or"), ("d", "er"), ("e", "ctor"), ("or", "der"),
    (" c", "ustomer"), ("in", "e"), ("l", "ine"), ("a", "b"), ("ab", "l"),
    ("abl", "e"), ("at", "a"), ("u", "p"))

  /** Content digest of the merge table — the artifact version key for
    * anything derived from this vocabulary (tokenized_corpus). A full
    * SHA-256 over the rendered rank-ordered pairs: unlike a JVM
    * collection hashCode it is stable across Scala/JVM versions and
    * collision-free for practical purposes, so swapping the published
    * vocab always invalidates derived artifacts.
    */
  lazy val MergesDigest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Merges.foreach { case (l, r) =>
      md.update(l.getBytes("UTF-8")); md.update(1.toByte)
      md.update(r.getBytes("UTF-8")); md.update(2.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  private val rankOf: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    Merges.zipWithIndex.foreach { case ((l, r), i) => m.put(l + '\u0001' + r, i) }
    m
  }
  private val mergedStrings: Array[String] = Merges.map { case (l, r) => l + r }.toArray
  private val idOfMerged: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    mergedStrings.zipWithIndex.foreach { case (s, i) =>
      require(!m.containsKey(s), s"merge table produces symbol '$s' twice — ids would be ambiguous")
      m.put(s, MergeIdBase + i)
    }
    m
  }

  private[graft] def toSymbols(pre: String): Array[String] = {
    val out = new Array[String](pre.codePointCount(0, pre.length))
    var i = 0
    var j = 0
    while (i < pre.length) {
      val cp = pre.codePointAt(i)
      out(j) = new String(Character.toChars(cp))
      i += Character.charCount(cp)
      j += 1
    }
    out
  }

  /** One merge step, the rule the trainer learns and the encoder
    * applies: scanning left to right, each adjacent (l, r) becomes the
    * one symbol l + r; an r consumed by a merge cannot start another.
    */
  private[graft] def mergePair(syms: Array[String], l: String, r: String): Array[String] =
    if (syms.length < 2) syms
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
      var k = 0
      while (k < syms.length) {
        if (k + 1 < syms.length && syms(k) == l && syms(k + 1) == r) {
          out += l + r; k += 2
        } else { out += syms(k); k += 1 }
      }
      out.toArray
    }

  /** Encode one pre-token (word, with its leading space if non-initial). */
  def encodePre(pre: String): Array[Int] = {
    var syms = toSymbols(pre)
    var done = syms.length <= 1
    while (!done) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rankOf.get(syms(i) + '\u0001' + syms(i + 1))
        if (r != null && r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (l, r) = Merges(best)
        syms = mergePair(syms, l, r)
        done = syms.length <= 1
      }
    }
    syms.map { s =>
      if (s.codePointCount(0, s.length) == 1) s.codePointAt(0)
      else idOfMerged.get(s).intValue()
    }
  }

  /** Encode a full document; ids concatenate per pre-token in order. */
  def encode(text: String): Array[Int] = {
    val words = text.split(" ", -1)
    val out = new scala.collection.mutable.ArrayBuffer[Int](text.length / 2 + 1)
    var i = 0
    while (i < words.length) {
      out ++= encodePre(if (i == 0) words(i) else " " + words(i))
      i += 1
    }
    out.toArray
  }

  /** Lossless inverse: plain concatenation of symbol strings. */
  def decode(ids: Array[Int]): String = {
    val sb = new java.lang.StringBuilder()
    ids.foreach { id =>
      if (id >= MergeIdBase) sb.append(mergedStrings(id - MergeIdBase))
      else sb.appendCodePoint(id)
    }
    sb.toString
  }

  /** Codegen entry point: called from the generated stage. */
  def encodeToArrayData(text: UTF8String): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(encode(text.toString))

  private def sqlQuote(s: String) = "'" + s.replace("'", "''") + "'"

  /** DuckDB list literal of rank-ordered pair keys (chr(1)-separated). */
  def pairListSql: String =
    Merges.map { case (l, r) => sqlQuote(l) + " || chr(1) || " + sqlQuote(r) }
      .mkString("[", ", ", "]")

  /** DuckDB list literal of rank-ordered merged-symbol strings. */
  def symListSql: String =
    mergedStrings.map(sqlQuote).mkString("[", ", ", "]")

  /** The DuckDB oracle: an independent re-derivation of the merge loop
    * as a recursive CTE — each level merges the LEFTMOST occurrence of
    * the best-ranked pair (equivalent to the Expression's merge-all
    * pass by the monotone-table property), memoized over DISTINCT
    * pre-tokens then joined back per document. list_position returns 0
    * (not NULL) on a miss, hence the nullif guards.
    */
  def oracleSql: String = {
    val ranks = s"list_transform(range(1, len(syms)), i -> " +
      s"nullif(list_position($pairListSql, syms[i] || chr(1) || syms[i+1]), 0))"
    raw"""WITH RECURSIVE w AS (
         |  SELECT doc_id,
         |    generate_subscripts(string_split(text,' '),1) AS word_no,
         |    unnest(string_split(text,' ')) AS word
         |  FROM documents
         |), pre AS (
         |  SELECT doc_id, word_no, CASE WHEN word_no = 1 THEN word ELSE ' ' || word END AS p FROM w
         |), dw AS (
         |  SELECT DISTINCT p FROM pre
         |), bpe AS (
         |  SELECT p, string_split_regex(p, '') AS syms FROM dw
         |  UNION ALL
         |  SELECT p,
         |    list_concat(list_concat(syms[1:j-1], [syms[j] || syms[j+1]]), syms[j+2:len(syms)]) AS syms
         |  FROM (
         |    SELECT p, syms, list_position(ranks, list_min(list_filter(ranks, x -> x IS NOT NULL))) AS j
         |    FROM (SELECT p, syms, $ranks AS ranks FROM bpe)
         |  ) WHERE j > 0
         |), fin AS (
         |  SELECT p,
         |    list_transform(syms, s -> CASE WHEN length(s) = 1 THEN ord(s) ELSE ${MergeIdBase - 1} + list_position($symListSql, s) END) AS ids
         |  FROM (SELECT p, syms, $ranks AS ranks FROM bpe)
         |  WHERE len(list_filter(ranks, x -> x IS NOT NULL)) = 0
         |)
         |SELECT doc_id,
         |  coalesce(array_to_string(flatten(list(fin.ids ORDER BY word_no)), ' '), '') AS token_ids,
         |  CAST(len(flatten(list(fin.ids ORDER BY word_no))) AS BIGINT) AS n_tokens
         |FROM pre JOIN fin ON pre.p = fin.p
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}

case class BpeExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bpe requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bpe"

  override protected def nullSafeEval(input: Any): Any =
    Bpe.encodeToArrayData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      // The merge loop is data-dependent control flow with a static
      // table — inlining its Java source would only duplicate what the
      // JIT compiles once; a static call keeps the stage codegen'd and
      // allocation-free on the caller side (catalyst's StaticInvoke
      // pattern).
      s"${ev.value} = graft.functions.Bpe.encodeToArrayData($c);")

  override protected def withNewChildInternal(newChild: Expression): BpeExpr =
    copy(child = newChild)
}

object BpeExpr {
  def register(ext: SparkSessionExtensions): Unit =
    ext.injectFunction(
      (
        FunctionIdentifier("graft_bpe"),
        new ExpressionInfo(classOf[BpeExpr].getName, "graft_bpe"),
        (children: Seq[Expression]) => {
          if (children.size != 1)
            throw new IllegalArgumentException(
              s"graft_bpe takes exactly 1 argument (text), got ${children.size}")
          BpeExpr(children.head)
        }
      )
    )
}

package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused tokenize → n-gram → md5 → 48-bit-halves kernel for the
  * set-similarity path.
  *
  * The composable spelling of this pipeline —
  * `explode(transform(sequence(...), i -> concat_ws(' ', slice(...))))`
  * + `.distinct()` + `conv(substring(md5(token), ...), 16, 10)` — costs a
  * per-element interpreted lambda (higher-order array functions are
  * CodegenFallback), materializes every gram string into a shuffled
  * `distinct()`, and round-trips each digest through a hex string. Measured
  * at sf0.1 that construction alone is ~80% of `dedup_jaccard_2gram`
  * (8.4 s of 10.4 s). This expression does the whole thing in one codegen'd
  * pass per document:
  *
  *  - split on single space (exact `split(text, " ")` semantics, empties
  *    dropped),
  *  - slide an n-token window, joining with a single space,
  *  - deduplicate grams per document BY STRING (exactly the semantics of
  *    `.distinct()` over exploded gram rows — the DuckDB oracle's
  *    `SELECT DISTINCT id, token`),
  *  - md5 each distinct gram once and emit both 48-bit halves:
  *    `ha` = digest bytes 0–5 big-endian (≡ `conv(substr(md5_hex,1,12),16,10)`),
  *    `hb` = bytes 6–11 (≡ `conv(substr(md5_hex,13,12),16,10)`).
  *
  * Per-document dedup here IS the global `(id, gram)` distinct — `id` is
  * fixed within a row — so the downstream pipeline loses a full shuffle.
  * Returns `array<struct<ha:long, hb:long>>`; `inline()` it to get the
  * (ha, hb) rows the Jaccard/MinHash operators consume. Registered as SQL
  * function `graft_ngram_hashes(text, n)` via [[graft.GraftExtensions]].
  */
case class NgramHashes(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("ha", LongType, nullable = false),
      StructField("hb", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_ngram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.ngramHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.ngramHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): NgramHashes =
    copy(child = newChild)
}

/** Whole-document 32-bit SimHash as ONE codegen'd expression — no explode,
  * no group-by, zero shuffle: distinct tokens (single-space split), one md5
  * per token, vote per bit i on the ASCII parity of hex digit i (the
  * engine-neutral `ascii(substr(md5(t), i+1, 1)) % 2` construction of the
  * DuckDB oracle), bit set when the vote sum is >= 0.
  *
  * NULL for documents with no tokens — mirroring the composable pipeline,
  * where such documents never produce token rows and so are absent from the
  * grouped output. Registered as SQL function `graft_simhash(text)`.
  */
case class SimHash32(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_simhash"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else TextHash.simhash32(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val boxed = ctx.freshName("boxedSimhash")
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${childGen.isNull}) {
          java.lang.Long $boxed =
            graft.functions.TextHash.simhash32(${childGen.value});
          if ($boxed != null) {
            ${ev.isNull} = false;
            ${ev.value} = $boxed.longValue();
          }
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

/** Fused tokenize → md5-bucket → per-doc count kernel — the zero-shuffle
  * form of the classifier family's (doc, bucket) count relation
  * ([[graft.ops.TokenModels]]): the composable spelling
  * `explode(split) → graft_md5_48 % B → groupBy(id, bucket).count`
  * shuffles every TOKEN of the corpus to count it; per-doc counting is
  * local by construction (the id is fixed within a row), so this does
  * the whole thing in one codegen'd pass and emits the ≤ B non-zero
  * (bucket, c) entries for `inline`/`explode` — the token-scale exchange
  * disappears from the training plan entirely. Bucket = first 6 md5
  * digest bytes mod B (≡ `pmod(graft_md5_48(tok), B)`), entries in
  * ascending-bucket order; empty/whitespace docs yield an empty array.
  * Registered as SQL function `graft_bucket_counts(text, buckets)`.
  */
case class BucketCounts(child: Expression, buckets: Int)
  extends UnaryExpression with ExpectsInputTypes {

  // validated at construction (analysis time), not per row: the kernel
  // allocates Array[Long](buckets) per row, so a zero/negative/huge
  // bucket count must die with a clear message before codegen runs
  require(buckets > 0 && buckets <= BucketCounts.MaxBuckets,
    s"graft_bucket_counts buckets must be in [1, " +
      s"${BucketCounts.MaxBuckets}], got $buckets")

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("bucket", IntegerType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_bucket_counts"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.bucketCounts(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.bucketCounts($c, $buckets)")

  override protected def withNewChildInternal(newChild: Expression): BucketCounts =
    copy(child = newChild)
}

object BucketCounts {
  /** Upper bound on the per-row count array (2²⁰ longs = 8 MB — already
    * far past any sane hashed-vocabulary size; the library's own callers
    * use ≤ 2¹⁶).
    */
  val MaxBuckets: Int = 1 << 20
}

/** 48-bit md5 prefix as an unsigned long — the codegen'd kernel behind
  * [[graft.ops.Prep.hashBucket]]'s engine-portable hash
  * (≡ `conv(substring(md5(key), 1, 12), 16, 10)`: the first 6 digest
  * bytes big-endian, exactly the `'0x' || substr(md5(k),1,12)` integer
  * every oracle uses). The builtin spelling round-trips each digest
  * through a 32-char hex STRING plus a radix-conversion parse per row;
  * this computes the long straight off the digest bytes — same value,
  * no string allocation (measured 31.3 → 10.0 s on the 22M-token
  * (doc, bucket) count build, SURVEY §6.0b). Registered as SQL
  * function `graft_md5_48(key)`.
  */
case class Md5Hash48(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_md5_48"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.md5hash48(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.md5hash48($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash48 =
    copy(child = newChild)
}

/** Row-level helpers behind [[NgramHashes]] and [[SimHash32]] — static entry
  * points the generated Java calls once per row (the loop stays inside
  * whole-stage codegen; only the per-document kernel is a method call).
  */
object TextHash {

  private val digestLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private def tokenize(text: String): Array[String] = {
    // exact split(text, " ") semantics with empties dropped: consecutive /
    // leading / trailing spaces yield empty tokens that are filtered out
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    val len = text.length
    var i = 0
    while (i <= len) {
      if (i == len || text.charAt(i) == ' ') {
        if (i > start) out += text.substring(start, i)
        start = i + 1
      }
      i += 1
    }
    out.toArray
  }

  /** 48-bit big-endian unsigned from 6 digest bytes at `off`. */
  private def half(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 6) { v = (v << 8) | (d(off + i) & 0xffL); i += 1 }
    v
  }

  /** See [[NgramHashes]]. One row per call; returns the distinct-gram
    * (ha, hb) struct array, first-occurrence order.
    */
  def ngramHashes(text: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(text.toString)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val md = digestLocal.get()
    val seen = new java.util.HashSet[String]()
    val rows = new scala.collection.mutable.ArrayBuffer[Any]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val gram = sb.toString
      if (seen.add(gram)) {
        md.reset()
        val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        rows += InternalRow(half(d, 0), half(d, 6))
      }
      i += 1
    }
    new GenericArrayData(rows.toArray)
  }

  /** See [[BucketCounts]]: per-doc (bucket, count) entries, ascending
    * bucket, counts of whitespace-split non-empty tokens hashed by the
    * 48-bit md5 prefix mod `buckets`.
    */
  def bucketCounts(text: UTF8String, buckets: Int): ArrayData = {
    val toks = tokenize(text.toString)
    if (toks.isEmpty) return new GenericArrayData(Array.empty[Any])
    val md = digestLocal.get()
    val counts = new Array[Long](buckets)
    var i = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(
        toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      counts((half(d, 0) % buckets).toInt) += 1L
      i += 1
    }
    val rows = new scala.collection.mutable.ArrayBuffer[Any]()
    var b = 0
    while (b < buckets) {
      if (counts(b) > 0L) rows += InternalRow(b, counts(b))
      b += 1
    }
    new GenericArrayData(rows.toArray)
  }

  /** See [[Md5Hash48]]: first 6 md5 digest bytes, big-endian unsigned. */
  def md5hash48(key: UTF8String): Long = {
    val md = digestLocal.get()
    md.reset()
    half(md.digest(key.getBytes), 0)
  }

  /** See [[SimHash32]]. Null (boxed) when the document has no tokens. */
  def simhash32(text: UTF8String): java.lang.Long = {
    val toks = tokenize(text.toString)
    if (toks.isEmpty) return null
    val md = digestLocal.get()
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](32)
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      if (seen.add(tok)) {
        md.reset()
        val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // hex digit i = high nibble of byte i/2 (even i) else low nibble;
        // vote on the ASCII parity of the lowercase hex char: digits '0'-'9'
        // have ascii parity == digit parity, 'a'-'f' have parity (value+1)%2
        var i = 0
        while (i < 32) {
          val nib =
            if ((i & 1) == 0) (d(i >> 1) >> 4) & 0xf
            else d(i >> 1) & 0xf
          val c = if (nib < 10) '0' + nib else 'a' + (nib - 10)
          votes(i) += (if ((c & 1) == 1) 1 else -1)
          i += 1
        }
      }
      t += 1
    }
    var sh = 0L
    var i = 0
    while (i < 32) {
      if (votes(i) >= 0) sh |= 1L << i
      i += 1
    }
    java.lang.Long.valueOf(sh)
  }
}

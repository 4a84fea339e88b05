package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, md5, substring}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One-pass signature kernels shared by the interpreted and codegen paths
  * of the expressions below. Top-level object → static forwarders, so
  * generated Java calls them directly.
  *
  * Hash semantics are bit-identical to the built-in `xxhash64`:
  *  - `simHash64(toks)` ≡ per-bit majority vote over `xxhash64(tok)`
  *    (seed 42, like the built-in single-arg form);
  *  - `minHash(sh, seeds)[k]` ≡ `array_min(transform(sh, x ->
  *    xxhash64(seed_k, x)))` — the chained long-then-bytes accumulation
  *    the multi-arg built-in performs.
  * The expression-tree forms walk the token array once per bit / per
  * seed (64×); these kernels walk it once, total.
  */
object SigImpl {

  def simHash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit token hash = first 15 hex chars of md5, parsed base-16
    * (= first 7 bytes + the high nibble of byte 7, big-endian). 60 bits
    * instead of 64 keeps the value in signed-long range for every SQL
    * engine, which is what makes the q41 oracle replicable.
    */
  def hash60(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  // Direct-mapped, thread-local memo for hash60: token vocabularies are
  // Zipfian, so most md5 digests (one MD5 block + a 16-byte allocation
  // each) recompute a value the thread just produced. Keyed by the full
  // 64-bit xxhash64 of the token bytes — a cache hit returns the md5
  // value of SOME token with that 64-bit key, so the result is
  // bit-identical to the uncached path barring a 2⁻⁶⁴ cross-token
  // xxhash64 collision (the same documented collision stance as q35's
  // posting keys and q40's hashed shingles). Caching never affects
  // WHICH value a given token maps to — only whether md5 re-runs — so
  // hit/miss patterns cannot perturb the output ABSENT a collision.
  // Under a 2^-64 key collision the failure mode is schedule-dependent
  // (the returned value depends on which colliding token the thread
  // hashed last), unlike the repo's other collision stances which fail
  // deterministically-wrong; accepted at the same risk level (ADVICE r9).
  private val h60CacheBits = 15
  private val h60CacheMask = (1 << h60CacheBits) - 1
  private val h60Keys = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](1 << h60CacheBits)
  }
  private val h60Vals = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](1 << h60CacheBits)
  }

  /** [[hash60]] through the thread-local memo (0 is the empty-slot
    * sentinel; a real key of 0 is nudged to 1 — both map through the
    * same md5, so correctness is unaffected).
    */
  def hash60Cached(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val k0 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
      s.numBytes, 0x517cc1b727220a95L)
    val k = if (k0 == 0L) 1L else k0
    val keys = h60Keys.get()
    val idx = (k ^ (k >>> 29)).toInt & h60CacheMask
    val vals = h60Vals.get()
    if (keys(idx) == k) return vals(idx)
    val v = hash60(s)
    keys(idx) = k
    vals(idx) = v
    v
  }

  /** SimHash over the portable 60-bit md5 token hash — same per-bit
    * majority vote as [[simHash64]], one pass over the tokens. Token
    * hashes route through [[hash60Cached]]; the vote loop is branchless
    * (`2·bit − 1` instead of a per-bit conditional).
    */
  def simHashMd5(arr: ArrayData): Long = {
    val votes = new Array[Int](60)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = hash60Cached(arr.getUTF8String(i))
        var b = 0
        while (b < 60) {
          votes(b) += (((h >>> b) & 1L).toInt << 1) - 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** MinHash over PRE-HASHED shingles (array<long>, e.g.
    * [[graft.operators.TextAnalysis.shingleHashes3]]): slot j is the min
    * over shingles of `XXH64.hashLong(h, seed_j')` where h is the
    * shingle's 64-bit content hash and seed_j' the same per-slot seed
    * derivation as [[minHash]]. One 8-byte hashLong per (shingle, slot)
    * instead of re-hashing the ~25-byte shingle STRING k times — the
    * string's bytes are hashed exactly once (into h, upstream), which
    * at 64 slots removes ~98% of the byte-hashing work per document.
    * A different (equally uniform) hash family than [[minHash]], so
    * signatures differ — recall properties are the statistical banding
    * bound either way, and q40's exact-verify stage makes the OUTPUT
    * independent of the family (DedupSpec pins recall=1 vs the exact
    * result at every sf).
    */
  def minHashFromHashes(arr: ArrayData, seeds: Array[Long]): Array[Long] = {
    val k = seeds.length
    val seedAcc = new Array[Long](k)
    var j = 0
    while (j < k) { seedAcc(j) = XXH64.hashLong(seeds(j), 42L); j += 1 }
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      j = 0
      while (j < k) {
        val v = XXH64.hashLong(h, seedAcc(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    mins
  }

  def minHash(arr: ArrayData, seeds: Array[Long]): Array[Long] = {
    val k = seeds.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        var j = 0
        while (j < k) {
          var acc = XXH64.hashLong(seeds(j), 42L)
          acc = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, acc)
          if (acc < mins(j)) mins(j) = acc
          j += 1
        }
      }
      i += 1
    }
    mins
  }
}

/** 64-bit SimHash of an array<string> in a single pass — custom Catalyst
  * expression with `doGenCode` (stays inside whole-stage codegen; the
  * generated code is a static call into SigImpl).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SigImpl.simHash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SigImpl.simHash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 60-bit md5-based SimHash of an array<string> in a single pass — the
  * portable sibling of [[SimHash64]] (md5 is implemented identically in
  * every engine, so a SQL oracle can replay the signature bit-for-bit).
  */
case class SimHashMd5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5_60"

  override protected def nullSafeEval(input: Any): Any =
    SigImpl.simHashMd5(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SigImpl.simHashMd5($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5 =
    copy(child = newChild)
}

/** MinHash signature (array<long>, length = seeds.length) of an
  * array<string> in a single pass over the input.
  */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => i * 2654435761L + 0x9e3779b9L)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(SigImpl.minHash(input.asInstanceOf[ArrayData], seeds))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.SigImpl.minHash($c, $seedsRef))")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** MinHash signature of an already-hashed shingle set (array<long>) —
  * the allocation- and byte-hash-light variant of [[MinHashSig]] for
  * pipelines that carry [[WordNgramHashes]] shingles (see
  * [[SigImpl.minHashFromHashes]]).
  */
case class MinHashSigFromHashes(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig_hashed"

  private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => i * 2654435761L + 0x9e3779b9L)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(SigImpl.minHashFromHashes(input.asInstanceOf[ArrayData], seeds))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.SigImpl.minHashFromHashes($c, $seedsRef))")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigFromHashes =
    copy(child = newChild)
}

object HashFunctions {
  /** The portable md5 uniform of a string key: the first 15 hex digits
    * of `md5(key)` read big-endian as a long, so the value lies in
    * [0, 2⁶⁰) and equals [[SigImpl.hash60]] of the key's UTF-8 bytes.
    * md5 is the same in every engine, so the DuckDB oracle replays each
    * draw bit-for-bit through [[md5U60Sql]]. Callers build the key
    * (separators, prefixes) and apply their own arithmetic after the
    * hash (`% n`, `pmod`, `(u + 0.5) / 2⁶⁰`).
    */
  def md5U60(key: Column): Column =
    conv(substring(md5(key), 1, 15), 16, 10).cast("long")

  /** [[md5U60]] as DuckDB SQL over the VARCHAR expression `key`: a fold
    * of the same 15 hex digits, most significant first. The lambda
    * parameters carry a `u60_` prefix so that they never shadow a
    * column or an enclosing lambda parameter the key refers to.
    */
  def md5U60Sql(key: String): String =
    "list_reduce(list_transform(generate_series(1, 15), u60_i -> " +
      s"strpos('0123456789abcdef', substring(md5($key), u60_i, 1)) - 1), " +
      "(u60_acc, u60_d) -> u60_acc * 16 + u60_d)"

  /** Column API for the custom expressions. */
  def simhash64(c: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(c)))

  def simhashMd5(c: Column): Column =
    ColumnBridge.column(SimHashMd5(ColumnBridge.expression(c)))

  def minhashSig(c: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(c), numHashes))

  def minhashSigHashed(c: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSigFromHashes(ColumnBridge.expression(c), numHashes))
}

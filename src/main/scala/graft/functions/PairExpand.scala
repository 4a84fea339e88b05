package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.array.ByteArrayMethods

/** A posting list sorted by id: `ids` ascending and, for an
  * `array<struct<id: bigint, payload>>` input, each row's payload
  * (widened to long) moved along with its id; `payload` is null for a
  * bare `array<bigint>`.
  */
final class Postings(val ids: Array[Long], val payload: Array[Long])

object Postings {

  /** Reads a posting list and sorts it by id. `payload` is the struct's
    * second field type (int or bigint), None for a bare id list. */
  def read(arr: ArrayData, payload: Option[DataType]): Postings = {
    val n = arr.numElements()
    val ids = if (payload.isEmpty) arr.toLongArray() else new Array[Long](n)
    val pay = payload.map(_ => new Array[Long](n)).orNull
    if (pay != null) {
      val wide = payload.contains(LongType)
      var i = 0
      while (i < n) {
        val s = arr.getStruct(i, 2)
        ids(i) = s.getLong(0)
        pay(i) = if (wide) s.getLong(1) else s.getInt(1)
        i += 1
      }
    }
    sort(ids, pay)
    new Postings(ids, pay)
  }

  /** Heapsort of `ids`, carrying `payload` (if any) along: in place and
    * O(n log n) whatever the list's length or order. */
  private def sort(ids: Array[Long], payload: Array[Long]): Unit = {
    def swap(a: Int, b: Int): Unit = {
      val t = ids(a); ids(a) = ids(b); ids(b) = t
      if (payload != null) {
        val p = payload(a); payload(a) = payload(b); payload(b) = p
      }
    }
    def siftDown(start: Int, end: Int): Unit = {
      var root = start
      var child = 2 * root + 1
      while (child < end) {
        if (child + 1 < end && ids(child + 1) > ids(child)) child += 1
        if (ids(root) >= ids(child)) child = end
        else { swap(root, child); root = child; child = 2 * root + 1 }
      }
    }
    val n = ids.length
    var i = n / 2 - 1
    while (i >= 0) { siftDown(i, n); i -= 1 }
    var end = n - 1
    while (end > 0) { swap(0, end); siftDown(0, end); end -= 1 }
  }
}

/** Receives the `k`-th canonical pair: rows `i < j` of a sorted list. */
trait PairSink { def apply(k: Int, i: Int, j: Int): Unit }

/** The canonical pairs of a sorted list of `n` rows: every `i < j`, or,
  * when `anchorAt` (the ascending positions of the anchor rows) is
  * given, only the pairs with an anchor endpoint. An anchor row pairs
  * with every later row, any other row with the later anchors, so each
  * pair comes once, in (i, j) order. The count is checked on
  * construction, so a caller sizes its output from `count`.
  */
final class CanonicalPairs(kernel: String, n: Int, anchorAt: Array[Int]) {
  val count: Int =
    CanonicalPairs.count(kernel, n, if (anchorAt == null) n else anchorAt.length)

  def foreach(sink: PairSink): Unit = {
    var k = 0
    var next = 0 // the first anchor position at or after row i
    var i = 0
    while (i < n) {
      if (anchorAt == null || (next < anchorAt.length && anchorAt(next) == i)) {
        if (anchorAt != null) next += 1
        var j = i + 1
        while (j < n) { sink(k, i, j); k += 1; j += 1 }
      } else {
        var q = next
        while (q < anchorAt.length) { sink(k, i, anchorAt(q)); k += 1; q += 1 }
      }
      i += 1
    }
  }
}

object CanonicalPairs {

  /** The most elements one JVM array holds. */
  val MaxPairs: Long = ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toLong

  /** The pairs of `n` rows with at least one of `anchors` anchor rows as
    * an endpoint, C(n, 2) − C(n − anchors, 2) (all of them when
    * `anchors = n`), counted in Long: in Int, n(n − 1) overflows from
    * n = 46,342. Throws when they do not fit in one array. */
  def count(kernel: String, n: Int, anchors: Int): Int = {
    val rest = (n - anchors).toLong
    val c = n.toLong * (n - 1) / 2 - rest * (rest - 1) / 2
    if (c > MaxPairs)
      throw new IllegalArgumentException(
        s"$kernel: a list of n = $n rows has $c pairs, more than one array holds ($MaxPairs)")
    c.toInt
  }
}

/** The shell of the posting-list kernels: one `array<bigint>` or
  * `array<struct<bigint, payload>>` argument, type-checked here, read
  * and sorted by [[Postings.read]], and run from generated code through
  * a reference to the expression itself.
  */
abstract class PostingKernel extends UnaryExpression {

  /** The struct's payload type, None for a bare `array<bigint>`. */
  def payloadType: Option[DataType]

  protected def expand(postings: Postings): ArrayData

  final def run(arr: ArrayData): ArrayData = expand(Postings.read(arr, payloadType))

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, payloadType) match {
    case (ArrayType(LongType, _), None) => TypeCheckSuccess
    case (ArrayType(StructType(Array(id, p)), _), Some(t))
        if id.dataType == LongType && p.dataType == t => TypeCheckSuccess
    case (other, _) =>
      val want = payloadType.fold("array<bigint>")(t => s"array<struct<bigint, ${t.simpleString}>>")
      TypeCheckFailure(s"$prettyName expects $want, got ${other.sql}")
  }

  override protected def nullSafeEval(input: Any): Any = run(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this)
    defineCodeGen(ctx, ev, c => s"$kernel.run($c)")
  }
}

object PostingKernel {
  /** `array<struct<…>>` of non-null fields, the pair kernels' output. */
  def structArray(fields: (String, DataType)*): DataType =
    ArrayType(StructType(fields.map { case (name, t) =>
      StructField(name, t, nullable = false) }), containsNull = false)
}

/** How [[PairExpansion]] emits a pair (a < b): as the struct
  * (doc_a, nsh_a, doc_b, nsh_b) of a `(doc_id, nsh)` posting list, as
  * the id struct (id_a, id_b), or packed into the one long
  * (id_a << 32) | id_b. Grouping on the packed key is bijective with
  * grouping on (a, b) exactly while every id fits an unsigned 32-bit
  * slot, so callers guard on the id range (and fall back to `Ids` past
  * it); the kernel re-checks and throws rather than corrupt a pair.
  */
sealed abstract class PairEncoding(val name: String,
    val payload: Option[DataType], val dataType: DataType) extends Serializable

object PairEncoding {
  import PostingKernel.structArray
  case object Payload extends PairEncoding("pair_expand", Some(IntegerType),
    structArray("doc_a" -> LongType, "nsh_a" -> IntegerType,
      "doc_b" -> LongType, "nsh_b" -> IntegerType))
  case object Ids extends PairEncoding("pair_expand_ids", None,
    structArray("id_a" -> LongType, "id_b" -> LongType))
  case object Packed extends PairEncoding("pair_expand_packed_ids", None,
    ArrayType(LongType, containsNull = false))
}

/** The pair-expansion kernels: `pair_expand`, `pair_expand_ids`,
  * `pair_expand_packed_ids` and, with anchors, `anchor_pair_expand` and
  * `anchor_pair_expand_ids`. A posting list expands into its canonical
  * pairs in one pass, straight into the output array: the per-key pair
  * generation of the exact-Jaccard inverted index, the LSH buckets and
  * the co-purchase baskets of the item-similarity queries.
  *
  * `anchors = None` emits all C(n, 2) pairs. `Some(a)` emits only the
  * pairs with an endpoint in `a` (driver-supplied, human-scale), the
  * subset a downstream anchor-incidence filter would keep, without
  * building the full expansion first: O(n log n + n·|a ∩ list| + emits)
  * per list. `Some(Seq.empty)` emits nothing.
  */
case class PairExpansion(child: Expression, encoding: PairEncoding,
    anchors: Option[Seq[Long]]) extends PostingKernel {
  @transient private lazy val sortedAnchors: Array[Long] =
    anchors.map(_.toArray.sorted).orNull

  override def prettyName: String = anchors.fold("")(_ => "anchor_") + encoding.name
  override def dataType: DataType = encoding.dataType
  override def payloadType: Option[DataType] = encoding.payload
  // plans print the child, then any anchors
  override protected def stringArgs: Iterator[Any] = Iterator(child) ++ anchors

  protected def expand(postings: Postings): ArrayData = {
    val ids = postings.ids
    val pay = postings.payload
    val n = ids.length
    val anchorAt = if (sortedAnchors == null) null else
      Array.range(0, n).filter(i => java.util.Arrays.binarySearch(sortedAnchors, ids(i)) >= 0)
    val pairs = new CanonicalPairs(prettyName, n, anchorAt)
    if (encoding == PairEncoding.Packed) {
      if (n > 0 && (ids(0) < 0L || ids(n - 1) >= (1L << 32)))
        throw new IllegalArgumentException(
          s"$prettyName: id out of [0, 2^32): ${ids(0)}..${ids(n - 1)}")
      val out = new Array[Long](pairs.count)
      pairs.foreach((k, i, j) => out(k) = (ids(i) << 32) | ids(j))
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](pairs.count)
      pairs.foreach((k, i, j) => out(k) = new GenericInternalRow(
        if (pay == null) Array[Any](ids(i), ids(j))
        else Array[Any](ids(i), pay(i).toInt, ids(j), pay(j).toInt)))
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): PairExpansion =
    copy(child = newChild)
}

/** `simhash_bucket_pairs(array<struct<id:long, sim:long>>)` →
  * `array<struct<doc_a, doc_b, hamming:int, first_band:int>>`, the
  * pigeonhole-banding sibling of [[PairExpansion]]: one (band, band-key)
  * bucket's (id, signature) list expands into its qualifying pairs in a
  * single pass. Per canonical pair (doc_a < doc_b): XOR the signatures,
  * popcount ≤ maxHamming gates the emit, and the FIRST band where the
  * signatures agree rides along so the plan can keep each pair exactly
  * once (filter first_band = this bucket's band) without a distinct().
  */
case class SimhashBucketPairs(child: Expression, bitsPerBand: Int,
    nBands: Int, maxHamming: Int) extends PostingKernel {
  override def dataType: DataType = PostingKernel.structArray(
    "doc_a" -> LongType, "doc_b" -> LongType,
    "hamming" -> IntegerType, "first_band" -> IntegerType)
  override def prettyName: String = "simhash_bucket_pairs"
  override def payloadType: Option[DataType] = Some(LongType)

  protected def expand(postings: Postings): ArrayData = {
    val ids = postings.ids
    val sims = postings.payload
    val mask = (1L << bitsPerBand) - 1
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    new CanonicalPairs(prettyName, ids.length, null).foreach { (_, i, j) =>
      val x = sims(i) ^ sims(j)
      val hamming = java.lang.Long.bitCount(x)
      if (hamming <= maxHamming) {
        var fb = 0
        while (fb < nBands && ((x >>> (fb * bitsPerBand)) & mask) != 0L) fb += 1
        out += new GenericInternalRow(Array[Any](ids(i), ids(j), hamming, fb))
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashBucketPairs =
    copy(child = newChild)
}

object PairExpandFunctions {
  private def expansion(c: Column, encoding: PairEncoding,
      anchors: Option[Seq[Long]]): Column =
    ColumnBridge.column(PairExpansion(ColumnBridge.expression(c), encoding, anchors))

  def pairExpand(c: Column): Column = expansion(c, PairEncoding.Payload, None)
  def pairExpandIds(c: Column): Column = expansion(c, PairEncoding.Ids, None)
  def pairExpandPackedIds(c: Column): Column = expansion(c, PairEncoding.Packed, None)
  def anchorPairExpand(c: Column, anchors: Seq[Long]): Column =
    expansion(c, PairEncoding.Payload, Some(anchors))
  def anchorPairExpandIds(c: Column, anchors: Seq[Long]): Column =
    expansion(c, PairEncoding.Ids, Some(anchors))
  def simhashBucketPairs(c: Column, bitsPerBand: Int, nBands: Int,
      maxHamming: Int): Column =
    ColumnBridge.column(SimhashBucketPairs(
      ColumnBridge.expression(c), bitsPerBand, nBands, maxHamming))
}

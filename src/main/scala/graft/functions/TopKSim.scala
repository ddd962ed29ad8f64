package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k accumulator over (score, id) pairs: two parallel primitive
  * arrays kept sorted by (score desc, id asc), capacity k. Insertion below
  * the current k-th best is O(1); otherwise a tail-first shift — k is small
  * (10–100), so linear movement beats a heap's pointer chasing and
  * allocates nothing per row.
  */
final class TopKBuffer(val k: Int, val dedupIds: Boolean = false) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  private def betterThan(s: Double, id: Long, s2: Double, id2: Long): Boolean =
    s > s2 || (s == s2 && id < id2)

  def insert(s: Double, id: Long): Unit = {
    // NaN compares false both ways → would otherwise float to rank 1
    if (java.lang.Double.isNaN(s)) return
    if (dedupIds) {
      // keep at most one entry per id (the better-scored one): the
      // fused max-merge+trim used by nnDescentGraph, where a duplicate
      // (id, score) arrives via several co-membership lists — k is small,
      // so the linear scan beats a per-group pre-aggregation pass
      var i = 0
      while (i < size) {
        if (ids(i) == id) {
          if (!betterThan(s, id, scores(i), ids(i))) return
          // remove the worse duplicate, then fall through to re-insert
          var j = i
          while (j < size - 1) { scores(j) = scores(j + 1); ids(j) = ids(j + 1); j += 1 }
          size -= 1
          i = size // exit loop
        }
        i += 1
      }
    }
    var pos =
      if (size < k) { size += 1; size - 1 }
      else if (betterThan(s, id, scores(k - 1), ids(k - 1))) k - 1
      else return
    while (pos > 0 && betterThan(s, id, scores(pos - 1), ids(pos - 1))) {
      scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
    }
    scores(pos) = s; ids(pos) = id
  }
}

/** topk_sim(score, id, k) — per-group top-k entries ordered (score desc,
  * id asc), returned as array<struct<sim double, id bigint>>.
  *
  * A TypedImperativeAggregate over [[TopKBuffer]]'s primitive arrays: the
  * buffer lives as a raw JVM object through partial aggregation and is
  * byte-serialized ONLY at the shuffle boundary (16·k + 8 bytes). The
  * previous `Aggregator[..., List[(Double, Long)], ...]` formulation paid
  * an ExpressionEncoder round-trip of a boxed cons-list through
  * ObjectHashAggregate's buffer slot — measured as s01's 2.4× regression.
  * Map-side combine still shrinks every partition to k rows before the
  * exchange, so the shuffle stays O(k·partitions) regardless of corpus
  * size.
  */
case class TopKSim(
    score: Expression,
    id: Expression,
    k: Int,
    dedupIds: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with ExpectsInputTypes {

  require(k > 0, "topk_sim requires k > 0")

  override def children: Seq[Expression] = Seq(score, id)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sim", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String =
    if (dedupIds) "topk_sim_distinct" else "topk_sim"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k, dedupIds)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      b.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) { b.insert(other.scores(i), other.ids(i)); i += 1 }
    b
  }

  override def eval(b: TopKBuffer): Any = {
    val rows = new Array[Any](b.size)
    var i = 0
    while (i < b.size) { rows(i) = InternalRow(b.scores(i), b.ids(i)); i += 1 }
    new GenericArrayData(rows)
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 + 16 * b.size)
    buf.putInt(b.k).putInt(b.size)
    var i = 0
    while (i < b.size) { buf.putDouble(b.scores(i)); buf.putLong(b.ids(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new TopKBuffer(buf.getInt(), dedupIds)
    val n = buf.getInt()
    var i = 0
    while (i < n) {
      val s = buf.getDouble(); val id = buf.getLong()
      b.insert(s, id); i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKSim =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKSim =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKSim =
    copy(score = newChildren(0), id = newChildren(1))
}

/** Buffer for [[NbrUnion]]: the group's forward-neighbor ids collected
  * verbatim (bounded by kBuild per node upstream by construction, but the
  * array grows if not) plus a [[TopKBuffer]] capping the reverse neighbors
  * at k by (sim desc, id asc) — the exact set `topk_sim` would keep.
  */
final class NbrUnionBuffer(val k: Int) {
  var fwd = new Array[Long](16)
  var fwdSize = 0
  val rev = new TopKBuffer(k)

  def addFwd(id: Long): Unit = {
    if (fwdSize == fwd.length) fwd = java.util.Arrays.copyOf(fwd, fwd.length * 2)
    fwd(fwdSize) = id
    fwdSize += 1
  }
}

/** nbr_union(sim, nbr, is_fwd, k) — per-group DISTINCT neighbor ids, sorted
  * ascending: the forward edges (is_fwd) taken verbatim, the reverse edges
  * capped at the top-k by (sim desc, id asc). One aggregation pass replaces
  * nnDescentGraph's former four-operator chain (reverse topk_sim aggregate
  * → union → distinct → self-join input): the per-node candidate LIST is
  * built in a single exchange, and the pair generation explodes it
  * directly. The output is a SET (sorted for determinism), so any consumer
  * that treats it as a set — pair combos a<b, distinct across groups —
  * computes exactly what the unfused chain computed.
  */
case class NbrUnion(
    score: Expression,
    id: Expression,
    isFwd: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[NbrUnionBuffer] with ExpectsInputTypes {

  require(k > 0, "nbr_union requires k > 0")

  override def children: Seq[Expression] = Seq(score, id, isFwd)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType, BooleanType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nbr_union"

  override def createAggregationBuffer(): NbrUnionBuffer = new NbrUnionBuffer(k)

  override def update(b: NbrUnionBuffer, input: InternalRow): NbrUnionBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    val f = isFwd.eval(input)
    // a forward edge is kept whatever its score; only the reverse top-k
    // ranks by score, so only it needs one
    if (i != null && f != null) {
      if (f.asInstanceOf[Boolean]) b.addFwd(i.asInstanceOf[Long])
      else if (s != null) b.rev.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    b
  }

  override def merge(b: NbrUnionBuffer, other: NbrUnionBuffer): NbrUnionBuffer = {
    var i = 0
    while (i < other.fwdSize) { b.addFwd(other.fwd(i)); i += 1 }
    i = 0
    while (i < other.rev.size) { b.rev.insert(other.rev.scores(i), other.rev.ids(i)); i += 1 }
    b
  }

  override def eval(b: NbrUnionBuffer): Any = {
    val all = new Array[Long](b.fwdSize + b.rev.size)
    System.arraycopy(b.fwd, 0, all, 0, b.fwdSize)
    var i = 0
    while (i < b.rev.size) { all(b.fwdSize + i) = b.rev.ids(i); i += 1 }
    java.util.Arrays.sort(all)
    // in-place distinct over the sorted ids
    var n = 0
    i = 0
    while (i < all.length) {
      if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
      i += 1
    }
    new GenericArrayData(if (n == all.length) all else java.util.Arrays.copyOf(all, n))
  }

  override def serialize(b: NbrUnionBuffer): Array[Byte] = {
    val buf = ByteBuffer.allocate(12 + 8 * b.fwdSize + 4 + 16 * b.rev.size)
    buf.putInt(b.k).putInt(b.fwdSize)
    var i = 0
    while (i < b.fwdSize) { buf.putLong(b.fwd(i)); i += 1 }
    buf.putInt(b.rev.size)
    i = 0
    while (i < b.rev.size) { buf.putDouble(b.rev.scores(i)); buf.putLong(b.rev.ids(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): NbrUnionBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new NbrUnionBuffer(buf.getInt())
    val nf = buf.getInt()
    var i = 0
    while (i < nf) { b.addFwd(buf.getLong()); i += 1 }
    val nr = buf.getInt()
    i = 0
    while (i < nr) {
      val s = buf.getDouble(); val id = buf.getLong()
      b.rev.insert(s, id); i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): NbrUnion =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NbrUnion =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NbrUnion =
    copy(score = newChildren(0), id = newChildren(1), isFwd = newChildren(2))
}

object NbrUnion {
  val info = new ExpressionInfo(classOf[NbrUnion].getName, "nbr_union")

  /** nbr_union(score, id, is_fwd, k) — k must be a foldable int literal. */
  def build(children: Seq[Expression]): Expression =
    NbrUnion(children(0), children(1), children(2),
      children(3).eval(null).asInstanceOf[Number].intValue())
}

object TopKSim {
  val info = new ExpressionInfo(classOf[TopKSim].getName, "topk_sim")
  val distinctInfo = new ExpressionInfo(classOf[TopKSim].getName, "topk_sim_distinct")

  /** topk_sim(score, id, k) — k must be a foldable int literal. */
  def build(children: Seq[Expression]): Expression =
    TopKSim(children(0), children(1),
      children(2).eval(null).asInstanceOf[Number].intValue())

  /** topk_sim_distinct(score, id, k) — top-k with at most one entry per
    * id (the better-scored copy wins; ties by the (score desc, id asc)
    * total order). The fused form of groupBy(group, id).max(score)
    * followed by topk_sim: one aggregation pass, one exchange. */
  def buildDistinct(children: Seq[Expression]): Expression =
    TopKSim(children(0), children(1),
      children(2).eval(null).asInstanceOf[Number].intValue(), dedupIds = true)
}

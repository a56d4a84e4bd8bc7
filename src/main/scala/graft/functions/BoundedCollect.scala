package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering}
import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType

/** `collect_list` with a hard per-group element bound — the memory-safety
  * primitive for group-then-expand candidate generation (MinHash/SimHash
  * band buckets, shingle inverted indexes, embedding LSH buckets).
  *
  * The built-in `collect_list` materializes one array per group with no
  * bound: a pathological hot key (a stopword-ish shingle, a degenerate
  * all-identical corpus collapsing into one LSH bucket) builds the whole
  * bucket as a single in-memory array in a single task — the one shape
  * that OOMs a 100 TB run no matter how many executors it has. This
  * aggregate retains AT MOST `cap + 1` elements per group, in both the
  * partial (map-side) and merge paths, so per-group state is O(cap)
  * regardless of key skew.
  *
  * The `+ 1` is the overflow sentinel: a result of size `cap + 1` means
  * the true group was LARGER than `cap`, letting callers drop oversized
  * buckets deterministically (`size(col) BETWEEN 2 AND cap`) — the result
  * then never depends on WHICH elements survived, so capped queries stay
  * oracle-exact. Which elements are retained in an overflowing group is
  * otherwise arbitrary (like `collect_list` ordering itself).
  */
/** Deterministic bounded top-k: retains the `k` SMALLEST elements per
  * group under the element type's natural ordering, in both the partial
  * (map-side) and merge paths — per-group state is O(k) regardless of
  * group size, and the result is a pure function of the group's SET of
  * elements (unlike [[CollectCapped]], whose survivors are
  * partitioning-dependent).
  *
  * This is the distributed reservoir for deterministic per-group
  * sampling: order by a portable hash of the row id
  * (`struct(graft_hash60(id), id, payload)` — the id tie-break makes the
  * ordering total) and the k smallest ARE a uniform pseudo-random sample,
  * reproducible on any engine that can sort by the same hash. Replaces
  * the `row_number() OVER (PARTITION BY g ORDER BY …) <= k` formulation,
  * which shuffles every candidate row and sorts whole groups in single
  * tasks — the one O(group) sort a 100 TB build cannot afford on skewed
  * groups. Result array is ascending-sorted.
  *
  * NULL SEMANTICS: a null ELEMENT is skipped (like collect_list), but a
  * non-null struct with a null FIELD participates and null fields sort
  * FIRST — so an argmin/argmax caller whose ordering key can be
  * null/NaN must mask the whole candidate to null
  * (`when(key.isNotNull && !isnan(key), struct(...))`) to get max_by's
  * skip-null-ordering-key semantics; see Similarity.maskedCand. */
case class MinKCollect(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends Collect[mutable.ArrayBuffer[Any]] with UnaryLike[Expression] {

  require(k > 0, s"graft_min_k k must be positive, got $k")

  // the min-k IS an ordering; checked here, once the child is resolved
  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName element type ${child.dataType} is not orderable")

  @transient private lazy val ordering: Ordering[Any] = child.dataType match {
    // struct elements (the argmax-candidate and hash-reservoir shapes —
    // every hot call site) compare through a CODEGEN'D ordering: one
    // compiled field-by-field compare instead of InterpretedOrdering's
    // per-field dispatch + boxing on every binary-search probe. Null
    // fields sort FIRST under SortOrder's Ascending default, identical
    // to the interpreted ordering this replaces (pinned by
    // BoundedCollectSpec's null-field test).
    case st: org.apache.spark.sql.types.StructType =>
      import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder}
      org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
        .generate(st.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
          SortOrder(BoundReference(i, f.dataType, f.nullable), Ascending)
        })
        .asInstanceOf[Ordering[Any]]
    case t =>
      org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(t)
  }

  override def createAggregationBuffer(): mutable.ArrayBuffer[Any] =
    mutable.ArrayBuffer.empty

  override protected def convertToBufferElement(value: Any): Any =
    InternalRow.copyValue(value)

  override protected lazy val bufferElementType: DataType = child.dataType

  /** Insert keeping the buffer ascending-sorted and bounded at `k`. */
  private def insert(buffer: mutable.ArrayBuffer[Any], v: Any): Unit =
    if (buffer.length < k || ordering.lt(v, buffer(buffer.length - 1))) {
      var lo = 0
      var hi = buffer.length
      while (lo < hi) { // binary search for the insertion point
        val mid = (lo + hi) >>> 1
        if (ordering.lteq(buffer(mid), v)) lo = mid + 1 else hi = mid
      }
      buffer.insert(lo, v)
      if (buffer.length > k) buffer.remove(buffer.length - 1)
    }

  override def update(
      buffer: mutable.ArrayBuffer[Any], input: InternalRow): mutable.ArrayBuffer[Any] = {
    val value = child.eval(input)
    if (value != null) insert(buffer, convertToBufferElement(value))
    buffer
  }

  override def merge(
      buffer: mutable.ArrayBuffer[Any],
      other: mutable.ArrayBuffer[Any]): mutable.ArrayBuffer[Any] = {
    other.foreach(insert(buffer, _))
    buffer
  }

  override def eval(buffer: mutable.ArrayBuffer[Any]): Any =
    new GenericArrayData(buffer.toArray)

  override def prettyName: String = GraftFunctions.MinKName

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKCollect =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKCollect =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinKCollect =
    copy(child = newChild)
}

case class CollectCapped(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends Collect[mutable.ArrayBuffer[Any]] with UnaryLike[Expression] {

  require(cap > 0, s"graft_collect_capped cap must be positive, got $cap")

  override def createAggregationBuffer(): mutable.ArrayBuffer[Any] =
    mutable.ArrayBuffer.empty

  override protected def convertToBufferElement(value: Any): Any =
    InternalRow.copyValue(value)

  override protected lazy val bufferElementType: DataType = child.dataType

  override def update(
      buffer: mutable.ArrayBuffer[Any], input: InternalRow): mutable.ArrayBuffer[Any] = {
    if (buffer.length <= cap) {
      val value = child.eval(input)
      if (value != null) buffer += convertToBufferElement(value)
    }
    buffer
  }

  override def merge(
      buffer: mutable.ArrayBuffer[Any],
      other: mutable.ArrayBuffer[Any]): mutable.ArrayBuffer[Any] = {
    val it = other.iterator
    while (buffer.length <= cap && it.hasNext) buffer += it.next()
    buffer
  }

  override def eval(buffer: mutable.ArrayBuffer[Any]): Any =
    new GenericArrayData(buffer.toArray)

  override def prettyName: String = GraftFunctions.CollectCappedName

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CollectCapped =
    copy(child = newChild)
}

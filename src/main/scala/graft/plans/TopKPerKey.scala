package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.IntegerType

/** Native top-k-per-key — the whole-operator extension path (custom
  * LogicalPlan → SparkStrategy → SparkPlan pair) for the single most
  * common window pattern in the reference's family:
  * `row_number().over(partitionBy(keys).orderBy(ord)) <= k`.
  *
  * Why a custom operator: the window form shuffles EVERY row to its
  * key's reducer and sorts the full partition. This pair instead runs a
  * bounded per-key heap on the map side ([[PartialTopKExec]]) so at
  * most k rows per key per input partition reach the exchange, then
  * ranks the survivors after a cheap sort of the reduced data
  * ([[FinalTopKExec]]). For `latest-per-group` (k=1) on 100 TB that
  * turns a full-data shuffle into a per-key-per-partition trickle —
  * the same partial/final contract hash aggregation uses, applied to
  * ranking.
  *
  * Memory: the partial heap map is bounded by
  * min(distinct keys in the partition, `spark.graft.topk.maxBufferedKeys`)
  * × k rows; past the cap the partial stage emits-and-resets (see
  * [[PartialTopKExec]]), so pathological key cardinality degrades to
  * extra exchange rows instead of an OOM.
  */
case class TopKPerKey(
    keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: LogicalPlan,
    rankAttr: AttributeReference =
      AttributeReference("rank", IntegerType, nullable = false)())
    extends UnaryNode {
  require(k > 0, s"top-k requires k > 0, got $k")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerKey =>
      FinalTopKExec(t.keys, t.order, t.k, t.rankAttr,
        PartialTopKExec(t.keys, t.order, t.k, planLater(t.child))) :: Nil
    case _ => Nil
  }
}

object PartialTopKExec {
  /** Session conf key bounding the per-partition heap map; past this
    * many distinct keys the stage emits its buffer and resets.
    */
  val MaxBufferedKeysConf = "spark.graft.topk.maxBufferedKeys"
  val MaxBufferedKeysDefault = 65536
}

/** Map-side stage: per input partition, keep at most the k first rows
  * (per `order`) of every key in a bounded max-heap — no shuffle, no
  * sort of the input.
  *
  * Memory guard: the heap map holds (distinct keys) × k rows. Unlike
  * hash aggregate it cannot spill, so past `maxBufferedKeys` distinct
  * keys it EMITS the whole buffer and resets (flush). Correctness is
  * free — [[FinalTopKExec]] re-reduces after the exchange — the only
  * cost is more than k rows per key crossing the wire on
  * pathological-cardinality partitions, which is still bounded by
  * k × flushes, never the raw input.
  */
case class PartialTopKExec(
    keys: Seq[Expression], order: Seq[SortOrder], k: Int, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val (keyExprs, ord, kk) = (keys, order, k)
    val maxKeys = {
      val raw = conf.getConfString(PartialTopKExec.MaxBufferedKeysConf,
        PartialTopKExec.MaxBufferedKeysDefault.toString)
      val parsed =
        try raw.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"${PartialTopKExec.MaxBufferedKeysConf} must be a positive int, got '$raw'")
        }
      require(parsed > 0,
        s"${PartialTopKExec.MaxBufferedKeysConf} must be > 0, got $parsed " +
          "(<= 0 would flush on nearly every row)")
      parsed
    }
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowOrd: Ordering[InternalRow] =
        GenerateOrdering.generate(ord, childOutput).asInstanceOf[Ordering[InternalRow]]
      // max-heap per key: head is the worst retained row; a new row
      // replaces it when it sorts strictly earlier. Keys are probed
      // with the projection's reused buffer and copied only on first
      // insert — no per-row allocation on the hot (existing-key) path.
      val heaps = mutable.HashMap.empty[InternalRow, mutable.PriorityQueue[InternalRow]]
      def drain(): Iterator[InternalRow] = {
        val snapshot = heaps.values.toArray
        heaps.clear()
        snapshot.iterator.flatMap(_.iterator)
      }
      new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty
        private var inputDone = false
        private def refill(): Unit = {
          while (!out.hasNext && !inputDone) {
            var flushed: Iterator[InternalRow] = null
            while (flushed == null && it.hasNext) {
              val r = it.next()
              val key = keyProj(r)
              heaps.get(key) match {
                case Some(heap) =>
                  if (heap.size < kk) heap.enqueue(r.copy())
                  else if (rowOrd.compare(r, heap.head) < 0) {
                    heap.dequeue(); heap.enqueue(r.copy())
                  }
                case None =>
                  if (heaps.size >= maxKeys) flushed = drain()
                  val h = mutable.PriorityQueue.empty[InternalRow](rowOrd)
                  h.enqueue(r.copy())
                  heaps.put(key.copy(), h)
              }
            }
            if (flushed != null) out = flushed
            else { inputDone = true; out = drain() }
          }
        }
        override def hasNext: Boolean = { refill(); out.hasNext }
        override def next(): InternalRow = { refill(); out.next() }
      }
    }, preservesPartitioning = true)
  }
}

/** Reduce-side stage: requires clustering by key and (key, order)
  * sorting — Spark's EnsureRequirements inserts the hash exchange and
  * sort over the ALREADY-REDUCED rows — then streams each key run,
  * emitting rank 1..k.
  */
case class FinalTopKExec(
    keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    rankAttr: Attribute, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def outputPartitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil else ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)) ++ order)
  override protected def withNewChildInternal(newChild: SparkPlan): FinalTopKExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val (keyExprs, kk, out) = (keys, k, output)
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val outProj = UnsafeProjection.create(out, out)
      val rankRow = new SpecificInternalRow(Seq(IntegerType))
      val joined = new JoinedRow
      var currentKey: UnsafeRow = null
      var count = 0
      it.flatMap { r =>
        val key = keyProj(r)
        if (currentKey == null || key != currentKey) {
          currentKey = key.copy(); count = 0
        }
        count += 1
        if (count <= kk) {
          rankRow.setInt(0, count)
          Some(outProj(joined(r, rankRow)): InternalRow)
        } else None
      }
    }, preservesPartitioning = true)
  }
}

/** Column-level entry point. Planned by [[TopKStrategy]], which
  * `GraftExtensions` injects into every [[graft.GraftSession]].
  */
object TopK {
  def perKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    val keyExprs = keys.map(ColumnBridge.expressionEager(spark, _))
    val orderExprs = order.map(c => ColumnBridge.expressionEager(spark, c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    ColumnBridge.ofRows(spark,
      TopKPerKey(keyExprs, orderExprs, k, df.queryExecution.analyzed))
  }
}

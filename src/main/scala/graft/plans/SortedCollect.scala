package org.apache.spark.sql.graftbridge

import java.io.{DataInputStream, DataOutputStream}
import java.nio.ByteBuffer

import scala.concurrent.duration.Duration

import org.apache.spark.{MapOutputStatistics, SparkEnv}
import org.apache.spark.io.CompressionCodec
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{CoalescedPartitionSpec, LocalTableScanExec, ProjectExec, ShufflePartitionSpec, SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{QueryStageExec, ShufflePartitionsUtil}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.ThreadUtils
import org.apache.spark.util.io.{ChunkedByteBuffer, ChunkedByteBufferOutputStream}

/** A collected root `ORDER BY` without its range shuffle.
  *
  * Under AQE a global sort plans as `Sort ← Exchange rangepartitioning`:
  * a sampling job for the range bounds, a map-stage job for the shuffle,
  * then the result job — only for the driver to gather every row again.
  * `collect()` funnels all rows through the driver anyway, so this node
  * answers [[executeCollect]] with ONE job: each task sorts its own
  * partition and returns it as a compressed run of `UnsafeRow` bytes
  * (the encoding `SparkPlan.executeCollect` uses, so driver memory and
  * `spark.driver.maxResultSize` see the same bytes), and the driver
  * k-way merges the runs with the sort's generated ordering —
  * `TakeOrderedAndProjectExec.executeCollect` without the limit. Rows
  * that tie on the keys come out in partition order; a range shuffle
  * leaves their order to its fetch order.
  *
  * A `LocalTableScan` child is sorted on the driver with no job at all.
  *
  * Every other consumer — `execute()` for a noop or V2 write,
  * `toLocalIterator`, a cache build — gets what the replaced pair ran:
  * a range exchange over the same child, its reduce partitions
  * coalesced by their map-output sizes as AQE's
  * `CoalesceShufflePartitions` does for a final stage, each sorted, then
  * the absorbed projection. `outputPartitioning`/`outputOrdering` say
  * what that path delivers.
  *
  * `projectList` is the deterministic `Project` the rule absorbed from
  * above the sort (its output is the node's output), evaluated on the
  * driver after the merge as `TakeOrderedAndProjectExec` does;
  * `projectList == child.output` when there was none. */
case class SortedCollectExec(sortOrder: Seq[SortOrder],
                             projectList: Seq[NamedExpression],
                             numPartitions: Int,
                             child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  private def projects: Boolean = projectList != child.output

  // a sort key the projection drops leaves the ordering after it
  // meaningless: report the prefix the output still carries
  override def outputOrdering: Seq[SortOrder] =
    sortOrder.takeWhile(_.references.subsetOf(outputSet))

  override def outputPartitioning: Partitioning =
    if (outputOrdering.length == sortOrder.length)
      RangePartitioning(sortOrder, numPartitions)
    else UnknownPartitioning(numPartitions)

  // built on first use from the node's own session: execution may run
  // on a thread with no active session, and SparkPlans capture it
  @transient private lazy val localSort: SortExec =
    session.withActive(SortExec(sortOrder, global = false, child))

  /** The range exchange every non-collect consumer runs. */
  @transient lazy val rangeExchange: ShuffleExchangeExec = session.withActive(
    ShuffleExchangeExec(RangePartitioning(sortOrder, numPartitions), child, ENSURE_REQUIREMENTS))

  override protected def doExecute(): RDD[InternalRow] = {
    val stats = ThreadUtils.awaitResult(rangeExchange.submitShuffleJob(), Duration.Inf)
    val (sort, list, in) = (localSort, projectList, child.output)
    val project = projects
    rangeExchange.getShuffleRDD(coalesced(Option(stats)).toArray).mapPartitionsInternal { it =>
      val sorted = sort.createSorter().sort(it.asInstanceOf[Iterator[UnsafeRow]])
      if (project) sorted.map(UnsafeProjection.create(list, in)) else sorted
    }
  }

  /** The exchange's reduce partitions as AQE's `CoalesceShufflePartitions`
    * reads them in a final stage: contiguous ranges, so still in order;
    * every partition on its own where AQE would not coalesce. */
  private def coalesced(stats: Option[MapOutputStatistics]): Seq[ShufflePartitionSpec] = {
    // the range partitioner may cut fewer partitions than it was asked for
    val each = (0 until rangeExchange.numPartitions).map(i => CoalescedPartitionSpec(i, i + 1))
    if (!conf.coalesceShufflePartitionsEnabled ||
        !conf.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS)) each
    else {
      val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) {
          sparkContext.defaultParallelism
        } else 1)
      ShufflePartitionsUtil.coalescePartitions(Seq(stats), Seq(None),
        conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES), math.max(minNum, 1),
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)).headOption.getOrElse(each)
    }
  }

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val ord = new LazilyGeneratedOrdering(sortOrder, child.output)
    val out = child match {
      // rows already on the driver: a stable sort keeps ties in input order
      case local: LocalTableScanExec => local.executeCollect().sorted(ord)
      case _ =>
        val runs = localSort.execute()
          .mapPartitionsInternal(it => Iterator(SortedCollectExec.encode(it))).collect()
        val nFields = child.output.length
        SortedCollectExec.merge(runs.map(r => (r._1, SortedCollectExec.decode(r._2, nFields))), ord)
    }
    if (projects) {
      val proj = UnsafeProjection.create(projectList, child.output)
      var i = 0
      while (i < out.length) { out(i) = proj(out(i)).copy(); i += 1 }
    }
    out
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SortedCollectExec =
    copy(child = newChild)
}

object SortedCollectExec {

  /** One sorted partition as (row count, compressed `UnsafeRow` run) —
    * `SparkPlan.getByteArrayRdd`'s task-side encoding. */
  private def encode(it: Iterator[InternalRow]): (Int, ChunkedByteBuffer) = {
    var count = 0
    val buffer = new Array[Byte](4 << 10)
    val codec = CompressionCodec.createCodec(SparkEnv.get.conf)
    val cbbos = new ChunkedByteBufferOutputStream(1024 * 1024, ByteBuffer.allocate)
    val out = new DataOutputStream(codec.compressedOutputStream(cbbos))
    while (it.hasNext) {
      val row = it.next().asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buffer)
      count += 1
    }
    out.writeInt(-1)
    out.close()
    (count, cbbos.toChunkedByteBuffer)
  }

  /** [[encode]]'s rows back, each owning its bytes. */
  private def decode(bytes: ChunkedByteBuffer, nFields: Int): Iterator[UnsafeRow] = {
    val codec = CompressionCodec.createCodec(SparkEnv.get.conf)
    val in = new DataInputStream(codec.compressedInputStream(bytes.toInputStream()))
    new Iterator[UnsafeRow] {
      private var nextSize = in.readInt()
      if (nextSize < 0) in.close()
      override def hasNext: Boolean = nextSize >= 0
      override def next(): UnsafeRow = {
        val bs = new Array[Byte](nextSize)
        in.readFully(bs)
        val row = new UnsafeRow(nFields)
        row.pointTo(bs, bs.length)
        nextSize = in.readInt()
        if (nextSize < 0) in.close()
        row
      }
    }
  }

  /** K-way merge of sorted runs, O(n log k); ties go to the lower run. */
  private def merge(runs: Array[(Int, Iterator[UnsafeRow])],
                    ord: Ordering[InternalRow]): Array[InternalRow] = {
    val out = new Array[InternalRow](runs.map(_._1.toLong).sum.toInt)
    val heads = runs.map(_._2.buffered)
    val heap = new java.util.PriorityQueue[Integer](math.max(1, heads.length),
      (a: Integer, b: Integer) => {
        val c = ord.compare(heads(a).head, heads(b).head)
        if (c != 0) c else Integer.compare(a, b)
      })
    heads.indices.foreach(i => if (heads(i).hasNext) heap.add(i))
    var n = 0
    while (!heap.isEmpty) {
      val i = heap.poll()
      val run = heads(i)
      out(n) = run.next()
      n += 1
      if (run.hasNext) heap.add(i)
    }
    out
  }
}

/** AQE query-stage preparation rule that plans [[SortedCollectExec]]:
  * at the plan ROOT, a global `SortExec` (optionally under a
  * deterministic `ProjectExec`) over the `rangepartitioning` exchange
  * `EnsureRequirements` inserted for it. Only AQE runs query-stage
  * rules, so non-AQE plans and streaming micro-batches keep their
  * plans, and a user `repartitionByRange` exchange (another shuffle
  * origin) never matches. The node keeps the root's logical link, so
  * AQE's re-planning after each stage meets the same shape again. */
object SortedCollect extends Rule[SparkPlan] {

  private val Planned = TreeNodeTag[Unit]("graft.sortedCollect")

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case p @ ProjectExec(list, s: SortExec) if list.forall(_.deterministic) =>
      replace(s, list).map(linked(_, p)).getOrElse(plan)
    case s: SortExec => replace(s, s.output).map(linked(_, s)).getOrElse(plan)
    case _ => plan
  }

  private def replace(s: SortExec, list: Seq[NamedExpression]): Option[SparkPlan] =
    s match {
      case SortExec(order, true,
          ShuffleExchangeExec(RangePartitioning(keys, n), child, ENSURE_REQUIREMENTS, _), _)
          if keys == order && order.forall(_.deterministic) && firstOrPlanned(s, child) =>
        Some(SortedCollectExec(order, list, n, child))
      case _ => None
    }

  /** At AQE's first planning (no query stage yet) the rule marks the
    * sort's logical node, and re-planning after a stage matches only a
    * marked sort. A root sort that first appears on re-planning — AQE
    * dropping a `Limit` its stage statistics show to be redundant — keeps
    * the plan AQE already runs: the node hides its exchange from AQE's
    * cost check, so AQE would adopt it, and a write would then pay the
    * range exchange that the kept `TakeOrderedAndProject` does not. */
  private def firstOrPlanned(s: SortExec, child: SparkPlan): Boolean = {
    val first = child.find(_.isInstanceOf[QueryStageExec]).isEmpty
    if (first) s.logicalLink.foreach(_.setTagValue(Planned, ()))
    first || s.logicalLink.exists(_.getTagValue(Planned).isDefined)
  }

  private def linked(node: SparkPlan, from: SparkPlan): SparkPlan = {
    from.logicalLink.foreach(node.setLogicalLink)
    node
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StringType}

/** Lineage truncation for iterative operators (PageRank rounds, d15
  * label propagation, BPE merge rounds). Iterated plans grow without
  * bound unless each round's result is materialized and its lineage
  * cut; HOW it is cut decides fault tolerance:
  *
  *  - `localCheckpoint()` keeps the blocks on executors with lineage
  *    discarded — fast, but ONE executor loss mid-iteration makes the
  *    job unrecoverable (no lineage to recompute from). Fine on
  *    local[N]; a scale-killer on a 1,000-node preemptible fleet.
  *  - `checkpoint()` writes the blocks to the SparkContext's
  *    checkpoint directory (HDFS/object store on a cluster) — a round
  *    costs a durable write, and any executor loss replays from the
  *    checkpoint instead of killing the job.
  *
  * The contract here follows Spark's own: `df.checkpoint()` requires
  * `sparkContext.setCheckpointDir(...)` to have been called, so that
  * call IS the opt-in. Every graft iterative operator truncates through
  * [[truncate]], which uses the reliable path exactly when a checkpoint
  * dir is configured and falls back to `localCheckpoint` otherwise —
  * cluster jobs set the dir once at session start and every iteration
  * in the library becomes durable, with zero operator-signature churn.
  *
  * A truncation declares what it really holds, on both paths:
  *
  *  - '''Statistics''' from the rows it materialized: the row count and
  *    the bytes of its variable-width columns (strings, binaries,
  *    arrays, maps) are observed on the checkpoint's own action, and
  *    `sizeInBytes` is rows × (8 + the fixed-width columns' sizes) plus
  *    those bytes. Spark's own checkpoint carries the estimate of the
  *    plan before it instead, and a join's estimate is the product of
  *    its inputs', so an iterated table's estimate compounded round
  *    after round (PageRank's fifth round claimed 4e32 bytes for
  *    0.2 MB of blocks) and the planner re-broadcast the static side
  *    of every round's join. Counting rows alone would declare a
  *    string 20 bytes, and a text or sketch table many times its
  *    declared size would then be broadcast.
  *  - '''Partitioning''' as the rows are laid out: `SinglePartition`
  *    when the checkpointed RDD has one partition and its size is
  *    within `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  *    (1 MB); the final exchange's hash partitioning when it is exact
  *    (that exchange was not coalesced and has the RDD's partition
  *    count); otherwise what Spark declares: the physical plan's own
  *    partitioning when AQE did not wrap the plan, else an unknown
  *    one. The size bound is AQE's own: by default it coalesces a
  *    shuffle into one partition only below it. A larger one-partition
  *    table declared `SinglePartition` would satisfy every later
  *    aggregate with no exchange, so a table that grows round by round
  *    (HyperBall's sketches) would stay in one task for good.
  *
  * [[coPartitionedJoin]] uses the two together: the round join of an
  * iterated table with a static one needs no exchange and no broadcast
  * when both sides declare compatible partitionings.
  */
object Lineage {

  /** Materialize `df` and truncate its lineage — reliably if the
    * session has a checkpoint dir configured, in-memory otherwise.
    * Both paths are eager, so callers can count on the upstream plan
    * having executed exactly once when this returns. */
  def truncate(df: DataFrame): DataFrame = checkpoint(df, Nil)._1

  /** [[truncate]] that additionally collects named aggregate metrics IN
    * the materialization pass (`Dataset.observe`), so iterative
    * operators stop paying one extra job per round for their
    * convergence/carry scalars (guide §1.2/§2.4 — remove actions
    * outright: every graph loop here ran a per-round `count()`/`agg()`
    * over rows the checkpoint action had just touched).
    *
    * Returns the truncated frame plus the metric row as name → value.
    * Metric columns must be aliased (`expr.as("name")`). */
  def truncateObserved(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) = {
    require(metrics.nonEmpty, "truncateObserved needs at least one metric column")
    checkpoint(df, metrics)
  }

  /** Inner join of `left` and `right` on `left(leftKey) === right(rightKey)`,
    * planned as a shuffle-hash join when both sides declare compatible
    * partitionings: both `SinglePartition` and each within
    * `spark.sql.maxSinglePartitionBytes`, or both hash-partitioned on
    * exactly their key into the same number of partitions. Spark then
    * plans no exchange and no broadcast under the join, which is what
    * an iterated table joined with a static [[truncate]]d one needs
    * each round. In every other case the planner's choice stands. */
  def coPartitionedJoin(left: DataFrame, leftKey: String,
                        right: DataFrame, rightKey: String): DataFrame =
    if (coPartitioned(left, leftKey, right, rightKey)) {
      val (l, r) = (left.hint("shuffle_hash"), right.hint("shuffle_hash"))
      l.join(r, l(leftKey) === r(rightKey))
    } else left.join(right, left(leftKey) === right(rightKey))

  private def coPartitioned(left: DataFrame, leftKey: String,
                            right: DataFrame, rightKey: String): Boolean = {
    val (lp, rp) = (left.queryExecution.sparkPlan, right.queryExecution.sparkPlan)
    def keyedOn(h: HashPartitioning, plan: SparkPlan, key: String) =
      h.expressions match {
        case Seq(a: Attribute) => plan.output.find(_.name == key).exists(_.semanticEquals(a))
        case _ => false
      }
    (lp.outputPartitioning, rp.outputPartitioning) match {
      case (SinglePartition, SinglePartition) =>
        val cap = SQLConf.get.getConf(SQLConf.MAX_SINGLE_PARTITION_BYTES)
        Seq(left, right).forall(_.queryExecution.optimizedPlan.stats.sizeInBytes <= cap)
      case (l: HashPartitioning, r: HashPartitioning) =>
        l.numPartitions == r.numPartitions && keyedOn(l, lp, leftKey) && keyedOn(r, rp, rightKey)
      case _ => false
    }
  }

  private val Rows = "__lineage_rows"
  private val Bytes = "__lineage_bytes"

  /** The checkpoint behind [[truncate]] and [[truncateObserved]]: the
    * caller's metrics plus the row count and variable-width bytes ride
    * the checkpoint's action. The observed metrics arrive on the
    * listener thread moments after it returns; if they ever do NOT
    * arrive (an engine change in how checkpoint runs its action), one
    * explicit aggregate over the materialized rows recomputes them —
    * correctness never depends on the listener. */
  private def checkpoint(df: DataFrame, metrics: Seq[Column]): (DataFrame, Map[String, Any]) = {
    val output = df.queryExecution.analyzed.output
    val varWidths = output.flatMap(varWidth)
    val all = count(lit(1)).as(Rows) +:
      (if (varWidths.isEmpty) metrics
       else coalesce(sum(varWidths.reduce(_ + _)), lit(0L)).as(Bytes) +: metrics)
    val obs = Observation()
    val observed = df.observe(obs, all.head, all.tail: _*)
    val ck =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) observed.checkpoint()
      else observed.localCheckpoint()
    val m = (try {
      // the action is complete; bounded wait for the async listener
      Some(scala.concurrent.Await.result(obs.future, scala.concurrent.duration.Duration(2, "s")))
    } catch { case _: java.util.concurrent.TimeoutException | _: InterruptedException => None })
      .getOrElse(ck.agg(all.head, all.tail: _*).head())
    val values = m.schema.fieldNames.zip(m.toSeq).toMap
    val rows = BigInt(values(Rows).asInstanceOf[Long])
    val bytes = rows * (8 + output.filter(varWidth(_).isEmpty).map(_.dataType.defaultSize).sum) +
      BigInt(values.get(Bytes).fold(0L)(_.asInstanceOf[Long]))
    (declared(ck, observed, Statistics(bytes.max(1), Some(rows))), values -- Seq(Rows, Bytes))
  }

  /** Bytes of one row's value of a variable-width column (null as 0):
    * the octets of a string or binary, the element count times the
    * element's default size for an array or map. */
  private def varWidth(a: Attribute): Option[Column] = {
    val c = ColumnBridge.column(a)
    (a.dataType match {
      case _: StringType | BinaryType => Some(octet_length(c))
      case ArrayType(e, _) => Some(size(c) * e.defaultSize)
      case MapType(k, v, _) => Some(size(c) * (k.defaultSize + v.defaultSize))
      case _ => None
    }).map(w => coalesce(w.cast("long"), lit(0L)))
  }

  /** `ck` re-wrapped with `stats` and the partitioning its RDD really
    * has (see the object doc). `observed` is the frame whose action
    * filled it: under AQE its final physical plan tells whether the
    * last exchange was coalesced. */
  private def declared(ck: DataFrame, observed: DataFrame, stats: Statistics): DataFrame =
    ck.queryExecution.logical match {
      case l: LogicalRDD =>
        val n = l.rdd.getNumPartitions
        val finalPlan = observed.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val partitioning = finalPlan.outputPartitioning match {
          case _ if n == 1 &&
            stats.sizeInBytes <= SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) =>
            SinglePartition
          case h: HashPartitioning if h.numPartitions == n && h.references.subsetOf(l.outputSet) => h
          case _ => l.outputPartitioning
        }
        DatasetBridge.ofRows(ck.sparkSession,
          l.copy(outputPartitioning = partitioning)(
            ck.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            Some(stats), Some(l.constraints)))
      case _ => ck
    }
}

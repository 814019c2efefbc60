package perfbench

/** The benchmark's workloads: which registry queries run on the base
  * input set (one parquet file per table). Each keeps a few queries of
  * its family, so that one run (set-up, a cold, a digest, a warm-up and
  * the timed passes) stays near a minute on four cores. */
object Workloads {

  final case class Workload(name: String, queries: Seq[String])

  val All: Seq[Workload] = Seq(
    // wall is the eager Lineage truncation jobs fired while the DataFrame is built
    Workload("iterative", Seq("c23_pagerank", "c62_lpa")),
    // a micro-batch drive (state store, WAL, offset commits) and a layout write
    Workload("ingest", Seq("e1_windowed_agg", "a27_partition_overwrite")))

  def byName(name: String): Workload =
    All.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; expected one of ${All.map(_.name).mkString(", ")}"))
}

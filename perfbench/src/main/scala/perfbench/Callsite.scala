package perfbench

/** Maps a Spark call site (the long form Spark records for every SQL
  * execution and stage: one `class.method(File.scala:line)` frame per
  * line, innermost first) to the graft module that fired the job. */
object Callsite {

  /** Modules the build layer is split into; a job whose first graft
    * frame is in none of them counts as `other`. */
  val Modules: Seq[String] = Seq("tables", "operators", "graph", "dedup", "analytics",
    "etl", "text", "similarity", "vectors", "multimodal", "sources", "streaming", "registry")

  private val Frame = """^\s*(?:at\s+)?(graft\.[\w$.]+)\(.*""".r

  /** The innermost frame in graft's own packages, e.g.
    * `graft.operators.Lineage$.truncate`. */
  def firstGraftFrame(details: String): Option[String] =
    Option(details).iterator.flatMap(_.split('\n')).collectFirst { case Frame(f) => f }

  /** `graft.<package>.…` is that package; top-level classes map by
    * role: the query registries (`*Queries*`, `SparkEntry`) are
    * `registry`, `Tables` is `tables`, the micro-batch drive helper
    * `StreamDrive` is `streaming`. */
  def moduleOf(frame: String): String = {
    val seg = frame.split('.').lift(1).getOrElse("")
    if (seg.headOption.exists(_.isLower)) seg
    else if (seg.startsWith("Tables")) "tables"
    else if (seg.startsWith("StreamDrive")) "streaming"
    else if (seg.contains("Queries") || seg.startsWith("SparkEntry")) "registry"
    else "other"
  }

  def module(details: String): Option[String] = firstGraftFrame(details).map(moduleOf)
}

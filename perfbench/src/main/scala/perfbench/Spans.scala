package perfbench

import java.nio.file.{Files, Path}

import perfbench.Tracer.QueryTrace

/** Writes a traced run's spans, one JSON object per line:
  * `run → workload → pass → query → {build, action → {analysis,
  * optimization, planning, exec}} → job → stage`, plus `microbatch`
  * under `build`. Spans of one query call share its `query` field; a
  * layer's self time is its span minus the part its children cover. */
object Spans {

  /** `passes`: each pass's name and its calls' traces, in run order. */
  def write(path: Path, workload: String, passes: Seq[(String, Seq[QueryTrace])]): Unit = {
    val out = new StringBuilder
    var next = 0
    def span(parent: Int, name: String, query: String, start: Long, end: Long): Int = {
      next += 1
      out ++= s"""{"id":$next,"parent":$parent,"name":${Main.jstr(name)},""" +
        s""""query":${Main.jstr(query)},"start_ms":$start,"end_ms":$end}""" + "\n"
      next
    }
    val all = passes.flatMap(_._2)
    def bounds(qs: Seq[QueryTrace]) =
      if (qs.isEmpty) (0L, 0L) else (qs.map(_.w.buildStart).min, qs.map(_.w.actionEnd).max)
    val (r0, r1) = bounds(all)
    val run = span(0, "run", "", r0, r1)
    val wl = span(run, "workload", workload, r0, r1)
    passes.foreach { case (name, qs) =>
      val (p0, p1) = bounds(qs)
      val pass = span(wl, name, "", p0, p1)
      qs.foreach { q =>
        val id = s"$name/${q.w.query}"
        val top = span(pass, "query", id, q.w.buildStart, q.w.actionEnd)
        val build = span(top, "build", id, q.w.buildStart, q.w.buildEnd)
        val action = span(top, "action", id, q.w.actionStart, q.w.actionEnd)
        q.plans.foreach { p =>
          Seq("analysis" -> p.analysis, "optimization" -> p.optimization, "planning" -> p.planning)
            .foreach { case (n, s) => s.foreach { case (a, b) => span(action, n, id, a, b) } }
        }
        val exec = q.execSpan.map { case (a, b) => span(action, "exec", id, a, b) }
        q.jobs.foreach { j =>
          val parent = if (j.phase == "exec") exec.getOrElse(action) else build
          val job = span(parent, s"job:${j.module.getOrElse("unattributed")}", id, j.startMs, j.endMs)
          j.stages.foreach(s => span(job, "stage", id, s.startMs, s.endMs))
        }
        q.batches.foreach(b => span(build, "microbatch", id, b.startMs, b.startMs + b.triggerMs))
      }
    }
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, out.toString)
  }
}

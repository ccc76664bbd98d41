package graft.perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run over the given spans. Span names are
  * the metric stems ("store.merge", "index.probe_call.ann", ...); a span's
  * layer is the part of its name before the first dot. */
object Report {
  def layers(spans: Seq[Span], cores: Int): Map[String, Any] = {
    val children = spans.groupBy(_.parent)
    def kids(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)
    def subtree(s: Span): Seq[Span] = s +: kids(s).flatMap(subtree)
    def self(s: Span): Double = s.seconds - kids(s).map(_.seconds).sum
    val roots = spans.filter(_.parent < 0)
    val wall = roots.map(_.seconds).sum
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    val byName = spans.groupBy(_.name)
    def sec(name: String): Double = byName.getOrElse(name, Nil).map(_.seconds).sum
    def jobs(names: String*): Double = names.flatMap(byName.getOrElse(_, Nil)).map(_.c.jobs).sum.toDouble
    def fact(k: String): Double = spans.flatMap(_.facts.get(k)).sum

    // spark: everything attributed to any of the spans
    val c = spans.map(_.c)
    m("spark.jobs") = c.map(_.jobs).sum.toDouble
    m("spark.stages") = c.map(_.stages).sum.toDouble
    m("spark.tasks") = c.map(_.tasks).sum.toDouble
    m("spark.cpu_s") = c.map(_.cpuNs).sum / 1e9
    m("spark.run_s") = c.map(_.runMs).sum / 1e3
    m("spark.cpu_util") = if (wall > 0) m("spark.cpu_s") / (wall * cores) else 0.0
    m("spark.sched_delay_s") = c.map(_.schedMs).sum / 1e3
    m("spark.gc_s") = c.map(_.gcMs).sum / 1e3
    m("spark.shuffle_write_bytes") = c.map(_.shuffleWrite).sum.toDouble
    m("spark.shuffle_read_bytes") = c.map(_.shuffleRead).sum.toDouble
    m("spark.spill_bytes") = c.map(_.spill).sum.toDouble
    m("spark.input_bytes") = c.map(_.inputBytes).sum.toDouble
    val resultRows = fact("result_rows")
    if (resultRows > 0) m("spark.scan_rows_per_result_row") = c.map(_.inputRecords).sum / resultRows
    m("spark.driver_gap_s") = roots.map { r =>
      val busy = subtree(r).flatMap(_.c.busy)
      (r.endMs - r.startMs - Tracer.covered(busy, r.startMs, r.endMs)) / 1e3
    }.sum

    // ops / plans
    if (byName.contains("ops.construct")) {
      m("ops.construct_s") = sec("ops.construct")
      m("ops.construct_jobs") = jobs("ops.construct")
      m("plans.plan_s") = sec("plans.plan")
      m("spark.execute_s") = sec("spark.execute")
    }
    // store / catalog / streaming
    for (n <- Seq("store.append", "store.merge", "store.delete", "store.scan", "store.cdf",
                  "catalog.maintain", "streaming.batch") if byName.contains(n))
      m(n + "_s") = sec(n)
    if (byName.keySet.exists(k => k.startsWith("store.") || k.startsWith("streaming."))) {
      m("store.commit_jobs") = jobs("store.append", "store.merge", "store.delete", "streaming.batch")
      if (spans.exists(_.facts.contains("store.files_planned"))) m("store.files_planned") = fact("store.files_planned")
      val manifest = fact("store.files_manifest")
      if (manifest > 0) m("store.prune_ratio") = fact("store.files_planned") / manifest
      if (byName.contains("streaming.batch"))
        m("streaming.overhead_s") = sec("streaming.batch") - fact("streaming.body_s")
    }
    // index lifecycles and probes
    for (s <- spans if s.name.startsWith("index.")) {
      val Array(_, phase, kind) = s.name.split("\\.", 3)
      phase match {
        case "build" | "refresh" =>
          add(s"index.${phase}_s.$kind", s.seconds)
          add(s"index.${phase}_jobs.$kind", s.c.jobs.toDouble)
        case "probe_call" =>
          add(s"index.probe_call_s.$kind", s.seconds)
          add(s"index.probe_jobs.$kind", s.c.jobs.toDouble)
        case "probe_fetch" =>
          add(s"index.probe_fetch_s.$kind", s.seconds)
          add(s"index.probe_jobs.$kind", s.c.jobs.toDouble)
        case _ =>
      }
      s.facts.foreach { case (k, v) => add(s"$k.$kind", v) }
    }
    for (k <- m.keys.toSeq if k.startsWith("index.files_manifest.")) {
      val kind = k.stripPrefix("index.files_manifest.")
      if (m(k) > 0) m(s"index.probe_prune_ratio.$kind") = m.getOrElse(s"index.files_planned.$kind", 0.0) / m(k)
    }

    // self time per layer, the time no layer span covers, and the spans
    val selfBy = spans.filter(_.parent >= 0).groupBy(s => s.name.takeWhile(_ != '.'))
      .map { case (l, ss) => l -> ss.map(self).sum }
    Map(
      "ops" -> roots.size,
      "wall_s" -> wall,
      "metrics" -> m.toMap,
      "self_s" -> selfBy,
      "unattributed_s" -> roots.map(self).sum,
      "spans" -> spans.size)
  }
}

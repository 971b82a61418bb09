package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Per-layer roll-up of a traced run's spans and attributed listener counts. */
object Report {
  /** Layers named in span names (`<layer>.<call>`); bench-owned roots
    * (`op.*`, `layers`) fold into `bench`, which is the unattributed time. */
  val Layers = Seq("api", "source", "compile", "runner", "sink", "http", "rowedit",
    "spec", "catalog", "bench")

  def layerOf(s: Span): String = {
    val l = s.name.takeWhile(_ != '.')
    if (l == "op" || l == "layers") "bench" else l
  }

  /** Total length of the union of `[a, b)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curA, curB = 0L
    var open = false
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curB) {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      } else curB = math.max(curB, b)
    }
    if (open) total += curB - curA
    total
  }

  /** Metrics every traced workload reports. Spark-runtime and `sql.*` values
    * are means per op (a root span other than `layers`); `self.*_s` are
    * seconds per traced pass; span-named layer times are means per call. */
  def generic(spans: Seq[Span], counts: Map[Long, Counts],
              gcByOp: Map[Long, Long]): Map[String, Double] = {
    val roots = spans.filter(_.parent == 0)
    val ops = roots.filter(_.name != "layers")
    val byOp = spans.groupBy(_.op)
    val children = spans.groupBy(_.parent)
    def opCounts(op: Span): Seq[Counts] = byOp(op.id).flatMap(s => counts.get(s.id))
    val n = math.max(1, ops.size).toDouble
    def perOp(f: Counts => Double): Double = ops.map(o => opCounts(o).map(f).sum).sum / n
    val idleS = ops.map { o =>
      val (a, b) = (o.start / 1000000L, o.end / 1000000L)
      val busyMs = unionLength(opCounts(o).flatMap(_.taskIntervals)
        .map { case (x, y) => (math.max(a, x), math.min(b, y)) })
      math.max(0.0, o.seconds - busyMs / 1e3)
    }.sum / n

    def selfNs(s: Span): Long =
      (s.end - s.start) - unionLength(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    val passes = math.max(1, roots.count(_.name == "layers")).toDouble
    val selfByLayer = spans.groupBy(layerOf).map { case (l, ss) => l -> ss.map(selfNs).sum / 1e9 }
    val rootWall = roots.map(r => r.end - r.start).sum.toDouble
    val rootSelf = roots.map(selfNs).sum.toDouble

    def named(name: String): Seq[Span] = spans.filter(_.name == name)
    def meanS(name: String): Double = {
      val ss = named(name)
      if (ss.isEmpty) 0.0 else ss.map(_.seconds).sum / ss.size
    }
    def meanJobs(name: String): Double = {
      val ss = named(name)
      if (ss.isEmpty) 0.0 else ss.map(s => counts.get(s.id).map(_.jobs).getOrElse(0L)).sum.toDouble / ss.size
    }

    Map(
      "spark.jobs" -> perOp(_.jobs),
      "spark.stages" -> perOp(_.stages),
      "spark.tasks" -> perOp(_.tasks),
      "spark.exec_idle_s" -> idleS,
      "spark.task_run_s" -> perOp(_.taskRunMs / 1e3),
      "spark.task_cpu_s" -> perOp(_.taskCpuNs / 1e9),
      "spark.task_gc_s" -> perOp(_.taskGcMs / 1e3),
      "jvm.driver_gc_s" -> ops.map(o => gcByOp.getOrElse(o.id, 0L)).sum / 1e9 / n,
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleRead),
      "spark.spill_bytes" -> perOp(_.spill),
      "spark.result_bytes" -> perOp(_.resultBytes),
      "sql.plan_s" -> perOp(_.planNs / 1e9),
      "sql.executions" -> perOp(_.executions),
      "source.build_s" -> meanS("source.read"),
      "source.build_jobs" -> meanJobs("source.read"),
      "compile.ms" -> meanS("compile.transform") * 1e3,
      "runner.validate_s" -> meanS("runner.validate"),
      "sink.write_s" -> meanS("sink.write"),
      "trace.unattributed_share" -> (if (rootWall > 0) rootSelf / rootWall else 0.0)
    ) ++ Layers.map(l => s"self.${l}_s" -> selfByLayer.getOrElse(l, 0.0) / passes)
  }

  /** Input bytes Spark read per op whose root span is named `opName`. */
  def inputBytesPerOp(spans: Seq[Span], counts: Map[Long, Counts], opName: String): Double = {
    val ops = spans.filter(s => s.parent == 0 && s.name == opName)
    if (ops.isEmpty) 0.0
    else {
      val byOp = spans.groupBy(_.op)
      ops.map(o => byOp(o.id).flatMap(s => counts.get(s.id)).map(_.inputBytes).sum).sum.toDouble / ops.size
    }
  }

  /** One JSON object per span, in open order. */
  def writeSpans(path: Path, spans: Seq[Span], counts: Map[Long, Counts]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val c = counts.getOrElse(s.id, new Counts)
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "task_run_ms" -> c.taskRunMs.toString, "plan_ms" -> Json.num(c.planNs / 1e6),
        "executions" -> c.executions.toString))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

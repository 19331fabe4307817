package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns one traced pass into spans and per-layer totals. The probe is
 *  read after [[Probe.uninstall]] has delivered all of its events.
 *
 *  Span tree: pass → gate → {build, write}; build → {plan.analysis,
 *  trigger, build_job}; trigger → build_job; write → {plan.*, exec_job}.
 *  A layer's self time is its span's duration minus the part of it that
 *  its children cover. */
object Layers {
  private val MiB = 1048576.0

  def spans(probe: Probe, runs: Seq[GateRun], passStart: Long, passEnd: Long): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, kind: String, gate: String, s: Long, e: Long): Int = {
      val id = SpanIds.next()
      out += Span(id, parent, kind, gate, s, math.max(s, e))
      id
    }
    val passId = add(-1, "pass", "", passStart, passEnd)
    val writes = probe.writes.asScala.iterator
    val triggers = probe.triggers.asScala.toSeq
    val jobs = probe.jobs.toList
    runs.foreach { r =>
      val g = add(passId, "gate", r.gate, r.start, r.end)
      val b = add(g, "build", r.gate, r.start, r.mid)
      r.analysis.foreach { case (s, e) => add(b, "plan.analysis", r.gate, s, e) }
      val trig = triggers.filter(_.gate == r.gate).map { t =>
        (add(b, "trigger", r.gate, t.start, t.start + t.ms), t.start, t.start + t.ms)
      }
      jobs.filter(j => j.gate == r.gate && j.phase == "build" && j.end >= 0).foreach { j =>
        val parent = trig.find { case (_, s, e) => j.start >= s && j.end <= e }.map(_._1).getOrElse(b)
        add(parent, "build_job", r.gate, j.start, j.end)
      }
      if (r.ok || r.writeNs > 0) {
        val w = add(g, "write", r.gate, r.mid, r.end)
        if (writes.hasNext) writes.next().foreach { case (phase, (s, e)) =>
          add(w, s"plan.$phase", r.gate, s, e)
        }
        jobs.filter(j => j.gate == r.gate && j.phase == "exec" && j.end >= 0)
          .foreach(j => add(w, "exec_job", r.gate, j.start, j.end))
      }
    }
    out.toSeq
  }

  /** Self time of every span: its duration minus the union of its
   *  children's intervals, clipped to the span. */
  def selfMs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      s.id -> (s.ms - covered)
    }.toMap
  }

  private def layerOf(kind: String): String = if (kind.startsWith("plan.")) "plan" else kind

  /** Per-pass layer totals of one traced pass. */
  def of(probe: Probe, runs: Seq[GateRun], cpus: Int): Map[String, Double] = {
    val b = probe.phaseAcc("build")
    val e = probe.phaseAcc("exec")
    val timed = Seq(b, e)
    val jobs = probe.jobs.toList
    val wallMs = runs.map(_.timedNs).sum / 1e6
    val taskRun = timed.map(_.runMs).sum.toDouble
    val trig = probe.triggers.asScala.toSeq
    val trigMs = trig.map(_.ms.toDouble)
    def dur(k: String) = trig.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val rows = trig.map(_.rows).sum.toDouble
    val sp = spans(probe, runs, 0L, 0L)
    val self = selfMs(sp)
    val selfBy = sp.groupBy(s => layerOf(s.kind)).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum.toDouble }
    val phases = sp.filter(_.kind.startsWith("plan.")).groupBy(_.kind).map { case (k, ss) => k -> ss.map(_.ms).sum.toDouble }
    Map(
      "build.ms" -> runs.map(_.buildNs).sum / 1e6,
      "build.jobs" -> jobs.count(_.phase == "build").toDouble,
      "barrier.rdds" -> probe.rddBlocks.keys.map(_._1).toSet.size.toDouble,
      "barrier.mb" -> probe.rddBlocks.values.sum / MiB,
      "plan.analysis_ms" -> phases.getOrElse("plan.analysis", 0.0),
      "plan.optimization_ms" -> phases.getOrElse("plan.optimization", 0.0),
      "plan.planning_ms" -> phases.getOrElse("plan.planning", 0.0),
      "exec.ms" -> runs.map(_.writeNs).sum / 1e6,
      "exec.jobs" -> jobs.count(j => j.phase == "build" || j.phase == "exec").toDouble,
      "exec.stages" -> (probe.stages("build") + probe.stages("exec")).toDouble,
      "exec.tasks" -> timed.map(_.tasks).sum.toDouble,
      "exec.task_run_ms" -> taskRun,
      "exec.task_cpu_ms" -> timed.map(_.cpuNs).sum / 1e6,
      "exec.busy_cores" -> (if (wallMs > 0) taskRun / wallMs else 0.0),
      "exec.idle_core_s" -> math.max(0.0, cpus * wallMs - taskRun) / 1e3,
      "exec.shuffle_read_mb" -> timed.map(_.shRead).sum / MiB,
      "exec.shuffle_write_mb" -> timed.map(_.shWrite).sum / MiB,
      "exec.spill_mb" -> timed.map(_.spill).sum / MiB,
      "streaming.triggers" -> trig.size.toDouble,
      "streaming.rows_in" -> rows,
      "streaming.trigger_ms" -> trigMs.sum,
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.commit_ms" -> (dur("walCommit") + dur("commitOffsets")),
      "streaming.state_rows" -> trig.map(_.stateRows).sum.toDouble,
      "streaming.state_mem_mb" -> trig.map(_.stateMem).sum / MiB,
      "streaming.state_commit_ms" -> trig.map(_.stateCommitMs).sum.toDouble,
      "streaming.rows_per_s" -> (if (trigMs.sum > 0) rows / (trigMs.sum / 1e3) else 0.0),
      "sources.rows_read" -> timed.map(_.inRows).sum.toDouble,
      "sources.mb_read" -> timed.map(_.inBytes).sum / MiB,
      "sinks.rows_written" -> b.outRows.toDouble,
      "sinks.mb_written" -> b.outBytes / MiB,
      "sinks.task_ms" -> b.outTaskMs.toDouble,
      "self.build_ms" -> selfBy.getOrElse("build", 0.0),
      "self.build_job_ms" -> selfBy.getOrElse("build_job", 0.0),
      "self.trigger_ms" -> selfBy.getOrElse("trigger", 0.0),
      "self.write_ms" -> selfBy.getOrElse("write", 0.0),
      "self.plan_ms" -> selfBy.getOrElse("plan", 0.0),
      "self.exec_job_ms" -> selfBy.getOrElse("exec_job", 0.0))
  }

  /** Prints each layer's self time and its top gates, and writes every
   *  span as JSON lines to `path`. */
  def report(spans: Seq[Span], path: String): Unit = {
    val self = selfMs(spans)
    val passes = spans.count(_.kind == "pass").max(1)
    val byLayer = spans.filter(_.kind != "pass").groupBy(s => layerOf(s.kind))
    println(s"layer self time per traced pass (ms), $passes traced passes:")
    byLayer.toSeq.sortBy(-_._2.map(s => self(s.id)).sum).foreach { case (layer, ss) =>
      val total = ss.map(s => self(s.id)).sum.toDouble / passes
      val top = ss.groupBy(_.gate).map { case (g, xs) => g -> xs.map(s => self(s.id)).sum.toDouble / passes }
        .toSeq.sortBy(-_._2).take(3).map { case (g, v) => f"$g $v%.0f" }.mkString(", ")
      println(f"  $layer%-10s $total%10.1f  top: $top")
    }
    val gates = spans.filter(_.kind != "pass").groupBy(_.gate).toSeq.sortBy(_._1)
    println("gate self time per traced pass (ms): gate build build_job trigger write plan exec_job")
    gates.foreach { case (g, ss) =>
      val by = ss.groupBy(s => layerOf(s.kind)).map { case (k, xs) => k -> xs.map(s => self(s.id)).sum.toDouble / passes }
      println(f"  $g%-28s" + Seq("build", "build_job", "trigger", "write", "plan", "exec_job")
        .map(k => f" ${by.getOrElse(k, 0.0)}%8.1f").mkString)
    }
    Files.createDirectories(Path.of(path).getParent)
    Files.write(Path.of(path), spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": "${s.kind}", "gate": "${s.gate}", "start_ms": ${s.start}, "end_ms": ${s.end}, "self_ms": ${self(s.id)}}"""
    }.asJava)
    println(s"spans written to $path")
  }
}

private object SpanIds {
  private val n = new java.util.concurrent.atomic.AtomicInteger()
  def next(): Int = n.incrementAndGet()
}

package perfbench

import java.io.PrintWriter

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession

/** In-process workload runner. Reads a plan written by run.py and drives
  * graft only through `graft.Main.main`, in one JVM. Plan lines (TSV):
  *
  *   prime <tag> <args>   untimed commands run first (the JVM-cold start)
  *   setup <tag> <args>   commands of one set-up rep; each of `setup_reps`
  *                        reps stops the session and deletes every `clean`
  *                        path first, so the rep pays a fresh session and
  *                        writes into an empty output; its wall time is one
  *                        sample
  *   warmup <tag> <args>  untimed commands after the last set-up rep
  *   op <tag> <args>      commands of one timed op ({i} = op number); ops
  *                        repeat until their summed wall time reaches
  *                        `seconds` and `min_ops` ran. With `fresh_session
  *                        1` every op command starts its own session, as a
  *                        separate CLI call would
  *   probe <kind> k=v...  traced runs only: the layer probes ([[Layers]])
  *
  * Each command's stdout goes to <tag>.out (ops: op<i>_<tag>.out) beside
  * the result file, for run.py's checks. Results are TSV lines. With
  * tracing on, ops alternate between spans off and on (at least three), so
  * the run reports its own tracing overhead.
  */
object Harness {
  /** Slots of the `local[4]` master run.py sets, for `spark.cpu_util`. */
  val Cores = 4

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def activeSpark: SparkSession = SparkSession.active

  private def stopSession(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("plan", planFile, resultFile, trace) => runPlan(planFile, resultFile, trace == "1")
    case _ =>
      System.err.println("usage: Harness plan <plan.tsv> <result.tsv> <trace 0|1>")
      sys.exit(2)
  }

  private def runPlan(planFile: String, resultFile: String, trace: Boolean): Unit = {
    val lines = { val s = Source.fromFile(planFile, "UTF-8"); try s.getLines().toVector finally s.close() }
      .map(_.split("\t", -1).toVector).filter(_.nonEmpty)
    def one(key: String) = lines.find(_.head == key).map(_(1))
    def all(key: String) = lines.filter(_.head == key).map(l => (l(1), l.drop(2)))
    val seconds = one("seconds").get.toDouble
    val minOps = one("min_ops").getOrElse("3").toInt
    val setupReps = one("setup_reps").getOrElse("3").toInt
    val freshSession = one("fresh_session").contains("1")
    val dir = new java.io.File(resultFile).getAbsoluteFile.getParent
    val out = new PrintWriter(resultFile, "UTF-8")
    def emit(fields: Any*): Unit = { out.println(fields.mkString("\t")); out.flush() }

    def command(tag: String, args: Seq[String], fresh: Boolean): Unit = {
      if (fresh) stopSession()
      val stdout = new java.io.FileOutputStream(new java.io.File(dir, tag + ".out"))
      try Console.withOut(stdout)(Cli.call(args)) finally stdout.close()
    }

    emit("host", "canary_before_s", num(graft.HostCanary.once()))
    for ((tag, args) <- all("prime")) command(tag, args, fresh = false)
    Trace.enabled = trace
    for (rep <- 1 to setupReps) {
      stopSession()
      for ((path, _) <- all("clean")) delete(new java.io.File(path))
      val s = timed(Trace.span("setup") {
        for ((tag, args) <- all("setup")) command(tag, args, fresh = false)
      })
      emit("setup", rep, num(s))
    }
    Trace.enabled = false
    for ((tag, args) <- all("warmup")) command(tag, args, fresh = false)

    val op = all("op")
    var n = 0
    var total = 0.0
    val times = mutable.ArrayBuffer.empty[(Double, Boolean)]
    while (n < minOps || total < seconds || (trace && n < 3)) {
      // traced runs alternate: even ops with spans off, odd ops with spans on
      val traced = trace && n % 2 == 1
      Trace.enabled = traced
      val t = timed(Trace.span("op") {
        for ((tag, args) <- op)
          command(s"op${n}_$tag", args.map(_.replace("{i}", n.toString)), freshSession)
      })
      Trace.enabled = false
      times += ((t, traced))
      emit("op", n, num(t), if (traced) 1 else 0)
      total += t
      n += 1
    }
    if (trace) {
      // op 0 is left out: without a warm-up (cold_pipeline) it is JIT-cold
      val on = times.filter(_._2).map(_._1).toSeq
      val off = times.drop(1).filterNot(_._2).map(_._1).toSeq
      emit("metric", "trace.overhead_s", num(median(on) - median(off)))
      Trace.enabled = true
      for ((kind, kvs) <- all("probe")) {
        val kv = kvs.map { x => val i = x.indexOf('='); x.take(i) -> x.drop(i + 1) }.toMap
        Layers.run(kind, kv, (k, v) => emit("metric", k, num(v)))
      }
      Trace.enabled = false
      Trace.write(resultFile + ".spans.json", Map("ops" -> n.toDouble))
      // spark.* totals and driver gap per traced op, medians over those ops
      val opSpans = Trace.all.filter(_.name == "op")
      val per = opSpans.map(Trace.sparkTree)
      for (k <- per.head.keys.toSeq.sorted)
        emit("metric", k, num(median(per.map(_.getOrElse(k, 0.0)))))
      emit("metric", "cli.driver_gap_s", num(median(opSpans.zip(per).map {
        case (s, m) => s.durNs / 1e9 - m.getOrElse("spark.busy_s", 0.0) })))
      emit("metric", "cli.session_s",
        num(median(Trace.all.filter(_.name == "cli.session").map(_.durNs / 1e9))))
    }
    emit("host", "canary_after_s", num(graft.HostCanary.once()))
    out.close()
    stopSession()
  }
}

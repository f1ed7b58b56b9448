package perfbench

import scala.jdk.CollectionConverters._

/** Fresh-JVM wrapper for traced CLI runs: stamps JVM start, times the
  * session start and the command from outside, then calls `graft.Main.main`
  * unchanged. The Spark listener comes in through `-Dspark.extraListeners`.
  *
  *   java -Dperfbench.launch_ms=<epoch ms> -Dperfbench.trace=<out.json>
  *        -Dspark.extraListeners=perfbench.TraceListener perfbench.Cli <graft args>
  */
object Cli {
  /** One CLI call in spans: `cli.session` times the session start when none
    * is open (Main.main's own getOrCreate then hands that session back),
    * `cli.main` the whole call. */
  def call(args: Seq[String]): Unit = Trace.span("cli.main") {
    if (org.apache.spark.sql.SparkSession.getActiveSession.isEmpty) {
      val buckets = args.sliding(2).collectFirst {
        case Seq(k, v) if k.dropWhile(_ == '-') == "p" => v.toInt
      }.getOrElse(32)
      Trace.span("cli.session")(graft.Main.session(buckets))
    }
    graft.Main.main(args.toArray)
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val launchMs = sys.props("perfbench.launch_ms").toLong
    Trace.enabled = true
    Trace.interval("cli.jvm", launchMs, mainMs)
    call(args.toSeq)
    Trace.settle()
    val spans = Trace.all
    val main = spans.find(_.name == "cli.main").get
    val session = spans.find(_.name == "cli.session").get
    val firstJob = Trace.jobs.asScala.map(_.startMs).minOption.getOrElse(main.endMs)
    val busy = Trace.sparkTree(main).getOrElse("spark.busy_s", 0.0)
    val extra = Map(
      "cli.jvm_s" -> (mainMs - launchMs) / 1000.0,
      "cli.session_cold_s" -> session.durNs / 1e9,
      "cli.first_action_s" -> (firstJob - main.startMs) / 1000.0,
      "cli.driver_gap_cold_s" -> (main.durNs / 1e9 - busy))
    Trace.write(sys.props("perfbench.trace"), extra)
  }
}

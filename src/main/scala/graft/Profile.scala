package graft

import org.apache.spark.sql.SparkSession

/** Dev profiler: runs queries `reps` times each and prints, per rep,
  * wall time and the scheduler-side shape — jobs, stages, tasks, summed
  * task time, shuffle bytes — so driver/barrier overhead separates from
  * executor compute (a query whose wall ≫ task-time/cores is
  * stage-round-bound, and the fix is fewer exchanges/jobs, not faster
  * per-row code). After each query's last rep it prints the stages that
  * burned the most task time, with their RDD scope names (the operator
  * neighborhood). With K it profiles the K×-scaled corpus that
  * `graft.Stress K` times, written from sfDir. State is reset between
  * reps, off the clock. A query that throws is reported and the main
  * exits 1, so the codegen audit is this main under the two strict
  * codegen confs (a janino failure otherwise falls back to interpreted
  * eval silently).
  *
  *   runMain graft.Profile <name>[,<name>...]|all [sfDir] [reps] [K]
  *
  * `GRAFT_BENCH_CONF="k=v;k2=v2"` applies extra session confs — the
  * same-session A/B harness (e.g. `graft.scan.spreadParts=0` vs
  * default): both arms run on one host minutes apart instead of across
  * sessions with ±10-20% noise. */
object Profile {

  final case class Rep(name: String, rep: Int, wall: Double, rows: Long,
      counts: Tool.Counts)

  private val Usage =
    "runMain graft.Profile <name>[,<name>...]|all [sfDir] [reps] [K]"

  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args.length > 4)
      Tool.usage(Usage, "expected 1 to 4 arguments")
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq.filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (names.isEmpty || unknown.nonEmpty) Tool.usage(Usage,
      s"unknown query in '${args(0)}': ${unknown.mkString(",")}")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = Tool.intArg(args, 2, "reps", 1, Usage).getOrElse(2)
    val k = Tool.intArg(args, 3, "K", 1, Usage)
    val confs = sys.env.get("GRAFT_BENCH_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("="))
      .map { kv => val Array(c, v) = kv.split("=", 2); c -> v }
    val spark = Tool.session(Tool.cpus(), confs: _*)
    val dir = k.fold(sfDir)(Tool.scaledCorpus(spark, sfDir, _))
    val (_, failed) = run(spark, names, dir, reps)
    println(s"== profile: ${names.size} queries, ${failed.size} failed ==")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Profiles each query on `dir`; returns every completed rep and the
    * queries that threw. */
  def run(spark: SparkSession, names: Seq[String], dir: String, reps: Int)
      : (Seq[Rep], Seq[String]) = {
    val listener = Tool.listener(spark)
    val done = Seq.newBuilder[Rep]
    val failed = Seq.newBuilder[String]
    try names.foreach { name =>
      try (1 to reps).foreach { r =>
        val (wall, rows, c) = listener.measure(spark)(
          SparkEntry.queries(name)(spark, dir).count())
        done += Rep(name, r, wall, rows, c)
        println(f"[profile] $name rep$r: wall=$wall%.2f s jobs=${c.jobs}" +
          f" stages=${c.stages.size} tasks=${c.tasks}" +
          f" taskSum=${c.taskMs / 1e3}%.2f s" +
          f" shuffle=${c.readBytes / 1048576.0}%.1f MiB read" +
          f" ${c.writeBytes / 1048576.0}%.1f MiB written ($rows rows)")
        if (r == reps) c.stages.sortBy(-_.taskMs).take(10).foreach { s =>
          println(f"  stage ${s.id}%4d task ${s.taskMs / 1e3}%8.2f s" +
            f"  wall ${s.wallMs / 1e3}%7.2f s  tasks=${s.tasks}%4d" +
            f"  ${s.readBytes / 1048576.0}%8.1f MiB read" +
            f" ${s.writeBytes / 1048576.0}%8.1f MiB written  ${s.scopes}")
        }
      } catch {
        case e: Throwable =>
          Tool.reset(spark)
          failed += name
          println(s"[profile] FAIL $name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(3)
              .mkString(" | "))
      }
    } finally listener.close()
    (done.result(), failed.result())
  }
}

package graft.tools

import graft.{Bench, Caches, Graft, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Same-JVM measurement tool (not part of the library surface):
  *
  *  - `ab <sfDir> <rounds> <q[,q...]> [<confKey> <valA> <valB>]` —
  *    round-robin attribution. Every round times the drift canaries,
  *    then each (variant, query) arm, the arm order rotated one step
  *    per round, so every arm sees the same host-drift windows and a
  *    per-arm min over rounds isolates the code or config effect from
  *    the host. With a conf key, the two values are the variants ("" =
  *    unset); the conf is applied before the query is built (knobs read
  *    at plan construction) and again after (confs Graft.tune re-pins,
  *    read lazily at optimization time). Canaries always run with the
  *    key unset, never under the previous arm's value.
  *  - `stages <sfDir> <q...>` — per-stage attribution of each query's
  *    wall time: stage span, summed task time, GC, input, shuffle
  *    read/write and spill (the Spark UI's stage table; the UI is
  *    disabled in these sessions).
  *  - `explain <sfDir> <q|entry|conf:key=value ...>` — prints
  *    `explain("formatted")` and the execution time per query; a
  *    `conf:` argument sets a session conf for the queries after it.
  *
  * Every timed query is forced with [[graft.Bench.forceAll]]. A query
  * that throws is reported and never timed; the tool then exits
  * non-zero. Cores: SPARK_GRAFT_CPUS, else the host's processor count.
  */
object Measure {
  private val Usage = "usage: Measure ab <sfDir> <rounds> <q[,q...]> " +
    "[<confKey> <valA> <valB>] | stages <sfDir> <q...> | explain <sfDir> <q...>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, Usage)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Graft.session(s"local[$cpus]", cpus)
    val run = new Run(spark, args(1))
    args(0) match {
      case "ab" => ab(run, args.drop(2))
      case "stages" => stages(run, args.drop(2).toSeq)
      case "explain" => explain(run, args.drop(2).toSeq)
      case other => sys.error(s"unknown subcommand '$other'; $Usage")
    }
    spark.stop()
    if (run.failed.nonEmpty) {
      System.err.println(
        s"[measure] ${run.failed.size} queries failed: ${run.failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Session, testdata and the failures seen so far. */
  private final class Run(val spark: SparkSession, sfDir: String) {
    val failed = mutable.LinkedHashSet.empty[String]
    def attempt[T](q: String)(body: => T): Option[T] =
      try Some(body)
      catch { case e: Throwable =>
        System.err.println(s"[measure] $q FAILED: $e")
        failed += q
        None
      }
    def build(q: String): DataFrame = SparkEntry.queries(q)(spark, sfDir)
    def clear(): Unit = {
      Caches.release(spark)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  private def ab(run: Run, args: Array[String]): Unit = {
    import run.spark
    require(args.length == 2 || args.length == 5, Usage)
    val rounds = args(0).toInt
    val queries = args(1).split(",").toSeq.filter(_.nonEmpty)
    val confKey = if (args.length == 5) Some(args(2)) else None
    val variants: Seq[(String, Option[String])] =
      if (confKey.isEmpty) Seq("-" -> None)
      else Seq("A" -> Some(args(3)), "B" -> Some(args(4)))
    def set(v: Option[String]): Unit = confKey.foreach { k =>
      v.filter(_.nonEmpty) match {
        case Some(x) => spark.conf.set(k, x)
        case None => spark.conf.unset(k)
      }
    }
    // construction + execution, like Bench: eager driver actions inside
    // a query's build are part of its cost
    def time(q: String, v: Option[String]): Option[Double] = {
      val t0 = System.nanoTime()
      val n = run.attempt(q) {
        set(v)
        val df = run.build(q)
        set(v)
        Bench.forceAll(df)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      run.clear()
      n.map { rows =>
        System.err.println(f"  $q%-26s $dt%7.2fs rows=$rows")
        dt
      }
    }

    val arms = for ((tag, v) <- variants; q <- queries) yield (tag, v, q)
    arms.foreach { case (_, v, q) => time(q, v) } // JVM warmup
    val results = mutable.Map[(String, String), List[Double]]().withDefaultValue(Nil)
    for (r <- 1 to rounds) {
      System.err.println(s"=== round $r/$rounds ===")
      Bench.Canaries.foreach(c => time(c, None).foreach(dt => results(("canary", c)) ::= dt))
      val k = (r - 1) % arms.size
      for ((tag, v, q) <- arms.drop(k) ++ arms.take(k))
        time(q, v).foreach(dt => results((tag, q)) ::= dt)
    }
    set(None)

    def stats(xs: List[Double]): String =
      if (xs.isEmpty) "no successful run"
      else {
        val s = xs.sorted
        val med =
          if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
        f"min=${s.head}%6.2f med=$med%6.2f max=${s.last}%6.2f"
      }
    println(confKey.fold("\n===== ab: min/median over rounds =====")(k =>
      s"\n===== ab $k: A='${args(3)}' B='${args(4)}' (min/median over rounds) ====="))
    for (q <- queries; (tag, _) <- variants)
      println(f"  $tag%-2s $q%-26s ${stats(results((tag, q)))}")
    println("canaries (drift inside this session)")
    for (c <- Bench.Canaries) println(f"     $c%-26s ${stats(results(("canary", c)))}")
  }

  private def stages(run: Run, queries: Seq[String]): Unit = {
    import run.spark
    case class St(name: String, var submitted: Long = 0L, var completed: Long = 0L,
      var taskMs: Long = 0L, var gcMs: Long = 0L, var shRead: Long = 0L,
      var shWrite: Long = 0L, var spill: Long = 0L, var input: Long = 0L,
      var tasks: Int = 0)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.synchronized {
          val s = stages.getOrElseUpdate(e.stageInfo.stageId,
            St(e.stageInfo.name.takeWhile(_ != '\n')))
          s.submitted = System.nanoTime()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
        stages.get(e.stageId).foreach { s =>
          val m = e.taskMetrics
          if (m != null) {
            s.taskMs += m.executorRunTime
            s.gcMs += m.jvmGCTime
            s.shRead += m.shuffleReadMetrics.totalBytesRead
            s.shWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.memoryBytesSpilled
            s.input += m.inputMetrics.bytesRead
            s.tasks += 1
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          stages.get(e.stageInfo.stageId).foreach(_.completed = System.nanoTime())
        }
    }

    for (q <- queries) {
      stages.synchronized(stages.clear())
      spark.sparkContext.addSparkListener(listener)
      val df = run.attempt(q)(run.build(q))
      val t0 = System.nanoTime()
      val n = df.flatMap(d => run.attempt(q)(Bench.forceAll(d)))
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      run.clear()
      n.foreach { rows =>
        println(s"===== $q wall=${f"$wall%.3f"}s rows=$rows =====")
        stages.synchronized {
          val t1 = stages.values.map(_.submitted).filter(_ > 0).minOption.getOrElse(t0)
          stages.toSeq.sortBy(_._2.submitted).foreach { case (id, s) =>
            val span = if (s.completed > s.submitted) (s.completed - s.submitted) / 1e9 else 0.0
            val start = (s.submitted - t1) / 1e9
            println(f"  stage $id%3d @$start%6.2fs span=$span%6.3fs tasks=${s.tasks}%3d " +
              f"taskSum=${s.taskMs / 1000.0}%7.2fs gc=${s.gcMs}%4dms " +
              f"in=${s.input / 1e6}%8.2fMB shR=${s.shRead / 1e6}%7.2fMB " +
              f"shW=${s.shWrite / 1e6}%7.2fMB spill=${s.spill / 1e6}%6.1fMB  ${s.name}")
          }
        }
      }
    }
  }

  private def explain(run: Run, args: Seq[String]): Unit =
    for (q <- args) {
      if (q.startsWith("conf:")) {
        val Array(k, v) = q.drop(5).split("=", 2)
        run.spark.conf.set(k, v)
      } else run.attempt(q)(
        if (q == "entry") SparkEntry.entry(run.spark) else run.build(q)
      ).foreach { df =>
        println(s"===== $q =====")
        df.explain("formatted")
        // the timer starts after construction: eager driver actions in
        // a query's build are not counted here (use `ab` or Bench)
        val t0 = System.nanoTime()
        run.attempt(q)(Bench.forceAll(df)).foreach { n =>
          println(f"[time] $q ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
        }
        run.clear()
      }
    }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, driven by perfbench/run.py.
  *
  *   perfbench.Main --workload W --inputs DIR --out DIR --seconds S
  *                  --trace 0|1 --rows t1=n1,t2=n2,... --cpus C
  *
  * Sets up [[Setups]] times (session start + input load + workload
  * preparation, the session stopped between set-ups) and then runs the
  * pipelines round-robin, one at a time (a closed loop with one client),
  * for at least the workload's minimum number of rounds and until
  * `seconds` have passed, finishing the round in progress. With
  * `--trace 1`, which reports no end-to-end metric, that phase is cut to
  * one round (the warm-up) and one warm untraced round (the
  * tracing-overhead reference) and one traced round follow; the traced
  * round's spans go to DIR/spans.json.
  * Each pipeline's first output is written to
  * DIR/outputs/<name>.json for the DuckDB check; every later output must
  * equal it. Timings and counts go to DIR/result.json. */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** Writes the run's JSON records: Scala collections as arrays and
    * objects, decimals in plain notation. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(com.fasterxml.jackson.core.JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN)

  final case class Exec(pipeline: String, seconds: Double, ok: Boolean)
  final case class Phase(execs: Seq[Exec], wallS: Double, rows: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val inputs = opt("inputs")
    val out = Paths.get(opt("out"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    // rows per input table, from the generator's manifest
    val tableRows: Map[String, Long] = opt("rows").split(",").map { kv =>
      val Array(k, v) = kv.split("="); k -> v.toLong
    }.toMap
    val pipelines = Workloads(workload)
    val work = out.resolve("work")
    Files.createDirectories(out.resolve("outputs"))

    val first = mutable.Map.empty[String, Long]
    val mismatched = mutable.Set.empty[String]
    val errors = mutable.Map.empty[String, String]

    /** Run one pipeline; check its output against the first one seen. */
    def runOnce(p: Pipeline, c: Ctx): Exec = {
      val t0 = System.nanoTime()
      try {
        val o = p.run(c)
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[perfbench] ${p.name} $s%.3f s")
        val fp = fingerprint(o)
        first.get(p.name) match {
          case None =>
            first(p.name) = fp
            json.writeValue(out.resolve("outputs").resolve(s"${p.name}.json").toFile,
              Map("columns" -> o.cols, "rows" -> o.rows))
          case Some(f) => if (f != fp) mismatched += p.name
        }
        Exec(p.name, s, ok = true)
      } catch {
        case e: Exception =>
          val msg = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          errors(p.name) = msg
          System.err.println(s"[perfbench] pipeline ${p.name} failed: $msg")
          e.printStackTrace()
          Exec(p.name, (System.nanoTime() - t0) / 1e9, ok = false)
      }
    }

    def startSession(): SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

    // ---- set-up, `Setups` times; the last session stays up
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    for (_ <- 1 to Setups) {
      if (spark != null) spark.stop()
      deleteRecursively(work)
      val t0 = System.nanoTime()
      spark = startSession()
      spark.sparkContext.setLogLevel("ERROR")
      ctx = new Ctx(spark, inputs, work.toString, new Trace(spark))
      // input load: open every table and check its row count
      for (t <- pipelines.flatMap(_.tables).distinct) {
        val n = ctx.table(t).count()
        require(n == tableRows(t), s"table $t has $n rows, the generator wrote ${tableRows(t)}")
      }
      Workloads.prepare(workload, ctx)
      setupS += (System.nanoTime() - t0) / 1e9
    }

    def timedPhase(minRounds: Int): Phase = {
      val execs = mutable.ArrayBuffer.empty[Exec]
      var rows = 0L
      val t0 = System.nanoTime()
      var rounds = 0
      while ((rounds < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) &&
          !spark.sparkContext.isStopped) {
        rounds += 1
        for (p <- pipelines if !spark.sparkContext.isStopped) {
          val e = runOnce(p, ctx)
          execs += e
          if (e.ok) rows += p.tables.map(tableRows).sum
        }
      }
      Phase(execs.toSeq, (System.nanoTime() - t0) / 1e9, rows)
    }

    val plain = timedPhase(if (traced) 1 else Workloads.minRounds(workload))
    // traced run: one warm untraced round as the overhead reference, then
    // one traced round
    val tracedPhases = if (!traced || spark.sparkContext.isStopped) None else {
      val reference = timedPhase(1)
      ctx.trace.start()
      val ph = timedPhase(1)
      ctx.trace.stop()
      ctx.trace.write(out.resolve("spans.json").toString)
      Some((reference, ph))
    }
    val stopped = spark.sparkContext.isStopped

    def phaseJson(p: Phase) = Map("wall_s" -> p.wallS, "rows" -> p.rows,
      "execs" -> p.execs.map(e => Seq(e.pipeline, e.seconds, e.ok)))
    val result = Map(
      "workload" -> workload,
      "setup_s" -> setupS.toList,
      "context_stopped" -> stopped,
      "peak_rss_mb" -> vmHwmMb(),
      "pipelines" -> pipelines.map(_.name).toList,
      "mismatched" -> mismatched.toList.sorted,
      "errors" -> errors.toMap,
      "untraced" -> phaseJson(plain),
    ) ++ tracedPhases.toSeq.flatMap { case (r, t) =>
      Seq("reference" -> phaseJson(r), "traced" -> phaseJson(t)) }
    json.writeValue(out.resolve("result.json").toFile, result)
    if (!stopped) spark.stop()
    deleteRecursively(work)
  }

  /** Order-independent fingerprint of an output: rows hashed one by one and
    * summed, so the collect order does not matter. */
  private def fingerprint(o: Out): Long =
    o.rows.foldLeft(o.rows.size.toLong)((acc, r) => acc + MurmurHash3.stringHash(r.toString))

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}

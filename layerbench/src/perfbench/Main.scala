package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One op of a workload: `run` does the op's calls, checks its outputs
  * (throwing on any mismatch) and returns a result digest, or "" when the
  * op was checked in place. */
final case class Op(kind: String, run: () => String)

trait Workload {
  /** Build the workload's inputs under a fresh `dir`. */
  def prepare(dir: File): Unit
  /** The seeded ops of cycle `c`, in order. */
  def cycle(c: Int): Seq[Op]
  /** Checks after the timed phase: failure messages plus run-level
    * figures (bytes on disk, counts). */
  def finish(): (Seq[String], Map[String, Double])
}

/** Runs one workload in this JVM and writes its records as JSON lines into
  * `--out`; `run.py` turns them into metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --cycles <n>
  *   --warmup-ops <n> --trace <0|1> --slots <n> --scratch <dir>
  *   --out <dir> [--data <star-schema dir>] */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val cycles = a("cycles").toInt
    val warmupOps = a("warmup-ops").toInt
    val trace = a("trace") == "1"
    val slots = a("slots").toInt
    val scratch = new File(a("scratch"))
    val out = new File(a("out"))
    out.mkdirs()

    val spark = graft.GraftSession.builder(s"perfbench-$name")
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.local.dir", new File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    val catalogsBefore = catalogConfs(spark)

    val wl: Workload = name match {
      case "image_io"       => new ImageIo(spark, seed)
      case "corpus_queries" => new CorpusQueries(spark, seed, a("data"))
      case "lake_commits"   => new LakeCommits(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val inputs = new File(scratch, "inputs")
    inputs.mkdirs()
    val tp0 = System.nanoTime()
    wl.prepare(inputs)
    val prepareS = (System.nanoTime() - tp0) / 1e9

    val sc = spark.sparkContext
    val warmFailures = ArrayBuffer.empty[String]
    // untimed warm-up: whole cycles until at least `warmupOps` ops have run
    val tw0 = System.nanoTime()
    var warmup = 0
    var warmed = 0
    while (warmed < warmupOps) {
      wl.cycle(warmup).foreach { op =>
        try op.run()
        catch { case e: Throwable => warmFailures += s"${op.kind}: ${describe(e)}" }
        warmed += 1
      }
      warmup += 1
    }
    val warmupS = (System.nanoTime() - tw0) / 1e9

    final case class Rec(id: Long, cycle: Int, kind: String, t0: Long,
        t1: Long, ok: Boolean, err: String, digest: String, traced: Boolean,
        gcMs: Long)
    val recs = ArrayBuffer.empty[Rec]
    val opListener = new OpListener
    val trigListener = new TriggerListener
    var id = 0L
    val timed0 = System.nanoTime()
    (warmup until warmup + cycles).foreach { c =>
      // traced and untraced cycles interleave, so trace.overhead_frac
      // compares ops of the same run under the same conditions
      val traced = trace && (c - warmup) % 2 == 1
      if (traced) {
        sc.addSparkListener(opListener)
        spark.streams.addListener(trigListener)
        Trace.on = true
      }
      wl.cycle(c).foreach { op =>
        id += 1
        Trace.op = id
        sc.setLocalProperty(OpListener.Key, id.toString)
        val gc0 = gcMs()
        val t0 = System.nanoTime()
        val (ok, err, digest) =
          try (true, "", op.run())
          catch { case e: Throwable => (false, describe(e), "") }
        val t1 = System.nanoTime()
        recs += Rec(id, c, op.kind, t0, t1, ok, err, digest, traced, gcMs() - gc0)
      }
      sc.setLocalProperty(OpListener.Key, null)
      if (traced) {
        Trace.on = false
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(opListener)
        spark.streams.removeListener(trigListener)
      }
    }
    val timedS = (System.nanoTime() - timed0) / 1e9
    PerfbenchBus.drain(sc)
    // a full GC queues the cleanup of unreachable broadcasts and shuffles;
    // give the context cleaner time to drop their blocks, then collect again
    spark.catalog.clearCache()
    for (_ <- 1 to 2) {
      System.gc()
      Thread.sleep(500)
    }
    System.gc()
    val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    val (finishFailures, figures) =
      try wl.finish()
      catch { case e: Throwable => (Seq(s"finish: ${describe(e)}"), Map.empty[String, Double]) }
    val leftoverCatalogs = catalogConfs(spark).diff(catalogsBefore)

    write(out, "ops.jsonl", recs.map { r =>
      obj("id" -> r.id, "cycle" -> r.cycle, "kind" -> r.kind, "t0" -> r.t0,
        "t1" -> r.t1, "ok" -> r.ok, "err" -> r.err, "digest" -> r.digest,
        "traced" -> r.traced, "gc_ms" -> r.gcMs)
    })
    write(out, "spans.jsonl", Trace.spans.map { s =>
      obj("op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "t0" -> s.t0, "t1" -> s.t1)
    })
    write(out, "counters.jsonl", Trace.counters.toSeq.map { case ((op, k), v) =>
      obj("op" -> op, "name" -> k, "value" -> v)
    })
    write(out, "spark.jsonl", opListener.byOp.toSeq.map { case (op, g) =>
      obj("op" -> op, "jobs" -> g.jobs, "stages" -> g.stages, "tasks" -> g.tasks,
        "run_ms" -> g.runMs, "cpu_ns" -> g.cpuNs, "gc_ms" -> g.gcMs,
        "input_bytes" -> g.inputBytes, "shuffle_bytes" -> g.shuffleBytes,
        "spill_bytes" -> g.spillBytes,
        "job_spans" -> g.jobSpans.map { case (s, e) => Seq(s, e) },
        "triggers" -> trigListener.triggers.getOrElse(op, 0L))
    })
    write(out, "run.json", Seq(obj(
      "session_ready_ms" -> sessionReadyMs,
      "prepare_s" -> prepareS,
      "warmup_s" -> warmupS,
      "timed_s" -> timedS,
      "live_heap_bytes" -> liveHeap,
      "failures" -> (warmFailures.toSeq.map("warm-up " + _) ++ finishFailures),
      "leftover_catalog_confs" -> leftoverCatalogs.toSeq.sorted,
      "figures" -> figures)))
    spark.stop()
  }

  private def catalogConfs(spark: SparkSession): Set[String] =
    spark.conf.getAll.keySet.filter(_.startsWith("spark.sql.catalog."))

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def describe(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(3)
      .map(t => s"${t.getClass.getSimpleName}: ${t.getMessage}")
      .mkString(" <- ").take(2000)

  private def write(dir: File, name: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(dir.getPath, name),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  /** Minimal JSON rendering for the record types written above. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def obj(kv: (String, Any)*): String = json(kv.toMap)
}

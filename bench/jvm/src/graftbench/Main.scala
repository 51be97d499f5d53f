package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.ingest.{AvroSink, Bitcoin}
import graft.ops.SharedFrames
import graft.streaming.Streams

/** One benchmark run of one workload, in one JVM with one client thread
  * in a closed loop: set up (session, inputs prepared by the caller,
  * one untimed warm-up pass), then `--rounds` timed rounds, then the
  * output checks. Writes everything it measured to `--out` as JSON.
  *
  * Usage: graftbench.Main --workload W --seed N --rounds R --trace 0|1
  *          --data DIR --work DIR --out FILE --cpus N
  */
object Main {

  final case class Opts(workload: String, seed: Long, rounds: Int, trace: Boolean,
      data: String, work: String, out: String, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("rounds").toInt, kv("trace") == "1",
      kv("data"), kv("work"), kv("out"), kv("cpus").toInt)
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val r = new Run(spark, o)
    r.metric("session_s", sessionS)
    try o.workload match {
      case "block_etl" => r.blockEtl()
      case "analyst_mix" => r.analystMix()
      case "stream_ingest" => r.streamIngest()
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.fail(s"run aborted: $e")
    }
    r.finish()
    val t0 = System.nanoTime()
    spark.stop()
    r.result("stop_s") = (System.nanoTime() - t0) / 1e9
    Files.write(Paths.get(o.out), Json(r.result).getBytes("UTF-8"))
  }

  /** The session settings of `graft.Bench`, with every temporary path kept
    * inside the run's work directory. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The 14 registry queries of `analyst_mix`, four families. */
  val MixQueries: Seq[String] = Seq(
    "q_scan_project", "q_agg_hash", "q_agg_rollup", "q_join_broadcast",
    "q_tpch_q3_priority", "q_tpch_q5_local",
    "q_sessionize", "q_join_asof", "q_flagship_dedup_explode", "q_nest_collect",
    "q_dedup_components",
    "q_dedup_minhash", "q_dedup_simhash",
    "q_ann_ivfpq")

  /** Per-layer metrics reported on every workload (0 where a layer is
    * idle), with their units. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "functions.convert_s" -> "s", "functions.decode_s" -> "s",
    "functions.scripts" -> "count", "functions.decode_ok_ratio" -> "ratio",
    "ingest.avro_write_s" -> "s", "ingest.avro_rows" -> "count",
    "ingest.avro_files" -> "count", "ingest.avro_bytes" -> "B",
    "ingest.warehouse_append_s" -> "s", "ingest.warehouse_bytes" -> "B",
    "ingest.etl_replace_s" -> "s", "ingest.etl_rows_in" -> "count",
    "ingest.etl_rows_out" -> "count", "ingest.etl_dedup_ratio" -> "ratio",
    "ingest.bytes_per_tx" -> "B/tx") ++
    MixQueries.map(q => s"queries.${q}_s" -> "s") ++ Seq(
    "ops.shared_builds" -> "count", "ops.shared_build_s" -> "s",
    "streaming.batches" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.overhead_s" -> "s", "streaming.state_rows" -> "count",
    "streaming.dup_drop_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_busy_s" -> "s",
    "spark.core_util" -> "ratio", "spark.sched_delay_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.task_gc_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB",
    "trace.round_s" -> "s", "trace.spans" -> "count")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(walk).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new File(dir))
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmrf)
    f.delete(); ()
  }

  /** Records in the Avro container files of `dir` whose names end in
    * `suffix`, and how many files that is. */
  def avroRecords(dir: String, suffix: String = ".avro"): (Long, Int) = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(suffix))
    val n = files.map { f =>
      val r = new org.apache.avro.file.DataFileReader[AnyRef](f,
        new org.apache.avro.generic.GenericDatumReader[AnyRef]())
      var c = 0L
      try while (r.hasNext) { r.next(); c += 1 } finally r.close()
      c
    }.sum
    (n, files.length)
  }
}

/** State and measurements of one run. */
final class Run(spark: SparkSession, o: Main.Opts) {
  import Main._

  private val sc = spark.sparkContext
  val tracer = new Tracer(o.trace, sc)
  tracer.install()
  spark.streams.addListener(tracer.streamListener)

  val result = mutable.LinkedHashMap.empty[String, Any]
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var attempted = 0L
  private var failedOps = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private var rounds = 0
  private val manifest = Json.parse(new String(
    Files.readAllBytes(Paths.get(o.data, "manifest.json")), "UTF-8")).asInstanceOf[Map[String, Any]]

  def metric(k: String, v: Double): Unit = metrics(k) = v
  def fail(msg: String): Unit = { errors += msg; failedOps += 1; attempted += 1 }

  /** A check made outside the timed region; a failed one fails the run. */
  def check(name: String)(ok: => Boolean, detail: => String): Unit = {
    val passed = try ok catch { case e: Throwable => System.err.println(e); false }
    checks += ((name, passed, if (passed) "" else detail))
    if (!passed) System.err.println(s"[bench] check failed: $name: $detail")
  }

  /** Checks between timed operations: traced as phase "check", so their
    * Spark work stays out of the timed rounds' per-layer figures. */
  private def checking(body: => Unit): Unit = {
    val phase = tracer.run
    tracer.run = "check"
    try tracer.span("bench", "check")(body) finally tracer.run = phase
  }

  /** One timed operation: returns its wall seconds, or None if it threw. */
  private def op(name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val gc0 = gcMs
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable =>
      failedOps += 1
      errors += s"$name: $e"
      System.err.println(s"[bench] $name FAILED: $e")
      None
    } finally if (tracer.run == "timed") timedGcMs += gcMs - gc0
  }

  /** Between operations, outside the timed region: what `graft.Bench`
    * does between queries — blocking unpersist of every cached RDD except
    * the shared frames (they exist to be shared by the queries of a
    * pass), cache clear, GC. */
  def hygiene(): Unit = {
    sc.getPersistentRDDs.filterNot { case (id, _) => SharedFrames.isShared(id) }
      .values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** Between rounds: what `graft.Bench` does after its suite — release
    * the shared frames, so that every round builds its own. */
  private def betweenRounds(): Unit = {
    SharedFrames.releaseAll()
    hygiene()
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private var timedGcMs = 0L
  private var timedWall = 0.0
  private var warmS = 0.0

  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  private val jit = ManagementFactory.getCompilationMXBean
  private def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The warm-up pass, then `--rounds` timed rounds: the same work on a
    * fast and a slow machine. `round(i)` returns its timed seconds. */
  private def loop(warm: => Unit)(round: Int => Double): Seq[Double] = {
    val w0 = System.nanoTime()
    tracer.span("bench", "warmup")(warm)
    betweenRounds()
    warmS = (System.nanoTime() - w0) / 1e9
    tracer.run = "timed"
    heapPools.foreach(p => try p.resetPeakUsage() catch { case _: Throwable => () })
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.length < o.rounds) {
      val (jit0, cpu0) = (jit.getTotalCompilationTime, cpuS)
      val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      out += round(out.length)
      rounds += 1
      System.err.println(f"[bench] round $rounds: ${out.last}%.3f s wall, process cpu " +
        f"${cpuS - cpu0}%.1f s, JIT compiling ${(jit.getTotalCompilationTime - jit0) / 1e3}%.1f s, codegen " +
        s"${org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0} classes")
      betweenRounds()
    }
    timedWall = out.sum
    layer("jvm.gc_s") = timedGcMs / 1e3 / rounds
    layer("jvm.peak_heap_mb") = heapPools.map(p =>
      try p.getPeakUsage.getUsed catch { case _: Throwable => 0L }).sum / 1048576.0
    tracer.run = "check"
    out.toSeq
  }

  // -- block_etl --------------------------------------------------------------

  private val rawCols = Seq("block_id", "previous_block", "merkle_root", "timestamp",
    "difficultyTarget", "nonce", "version", "chain_work", "transactions")

  private def deliveries: Seq[Map[String, Any]] =
    manifest("deliveries").asInstanceOf[Seq[Map[String, Any]]]
  private def num(m: Map[String, Any], k: String): Long = m(k).asInstanceOf[Number].longValue

  def blockEtl(): Unit = {
    val conv = new Convert(sc, o.trace)
    val batches = deliveries
    val freshness = mutable.ArrayBuffer.empty[Double]
    var txIn, bytes, whRows, etlOut, distinct = 0L
    var avroRows, avroFiles, avroBytes, whBytes = 0L

    /** Hand over the first `n` batches one by one to a fresh warehouse
      * in `dir`. */
    def round(dir: String, timed: Boolean, n: Int): Double = {
      val avroDir = s"$dir/avro"
      val wh = s"$dir/warehouse"
      val dest = s"$dir/transactions"
      var cumRows, cumTx = 0L
      var wall = 0.0
      batches.take(n).zipWithIndex.foreach { case (bm, k) =>
        val (s0, ok0) = (conv.scripts.value.longValue, conv.decodedOk.value.longValue)
        val sfx = f"-b$k%03d.avro"
        val sec = op(s"batch $k") {
          tracer.span("bench", "batch") {
            val blocks = tracer.span("functions", "convert") {
              val raw = spark.read.parquet(f"${o.data}/batch_$k%03d.parquet")
                .select(rawCols.map(col): _*)
              val b = conv(raw).persist(StorageLevel.MEMORY_AND_DISK)
              b.count()
              b
            }
            tracer.span("ingest", "avro_write") {
              AvroSink.write(blocks, "timestamp", 3600, avroDir, suffix = sfx.stripSuffix(".avro"))
            }
            tracer.span("ingest", "warehouse_append") {
              blocks.write.mode(SaveMode.Append).parquet(wh)
            }
            tracer.span("ingest", "etl_replace") {
              Bitcoin.etl(spark.read.schema(Bitcoin.blockSchema).parquet(wh))
                .write.mode(SaveMode.Overwrite).parquet(dest)
            }
          }
        }
        sec.foreach { s => wall += s; if (timed) freshness += s }
        cumRows += num(bm, "rows")
        cumTx += num(bm, "new_transactions")
        checking {
          val (n, files) = avroRecords(avroDir, sfx)
          check(s"block_etl batch $k avro rows")(n == num(bm, "rows"), s"$n != ${bm("rows")}")
          val whN = spark.read.schema(Bitcoin.blockSchema).parquet(wh).count()
          check(s"block_etl batch $k warehouse rows")(whN == cumRows, s"$whN != $cumRows")
          val destN = spark.read.parquet(dest).count()
          check(s"block_etl batch $k destination rows")(destN == cumTx, s"$destN != $cumTx")
          val (ds, dok) = (conv.scripts.value - s0, conv.decodedOk.value - ok0)
          val (ms, mbad) = (num(bm, "scripts"), num(bm, "truncated_scripts"))
          check(s"block_etl batch $k decode counts")(ds == ms && dok == ms - mbad,
            s"decoded $dok of $ds scripts, manifest ${ms - mbad} of $ms")
          if (timed) {
            txIn += num(bm, "transactions")
            avroRows += n; avroFiles += files
            whRows += whN; etlOut += destN; distinct += cumDistinct(k)
          }
        }
        hygiene()
      }
      if (timed) {
        val (a, w, d) = (dirBytes(avroDir), dirBytes(wh), dirBytes(dest))
        avroBytes += a; whBytes += w; bytes += a + w + d
      }
      rmrf(new File(dir))
      wall
    }

    // warm-up: the first batch alone, into a warehouse of its own
    var acc0 = (0L, 0L, 0L)
    val walls = loop {
      round(s"${o.work}/etl-warmup", timed = false, 1)
      acc0 = (conv.scripts.value, conv.decodedOk.value, conv.decodeNs.value)
    } { i => round(s"${o.work}/etl-$i", timed = true, batches.length) }
    metric("round_s", median(walls))
    metric("op_typical_s", median(freshness.toSeq))
    metric("ops", freshness.size)
    metric("op_p90_s", quantile(freshness.toSeq, 0.9))
    metric("throughput_per_s", txIn / timedWall)
    metric("etl_bytes_per_tx", bytes.toDouble / txIn)
    val scripts = (conv.scripts.value - acc0._1).toDouble
    val okRatio = (conv.decodedOk.value - acc0._2) / scripts
    layer("functions.decode_s") = (conv.decodeNs.value - acc0._3) / 1e9 / rounds
    layer("functions.scripts") = scripts / rounds
    layer("functions.decode_ok_ratio") = okRatio
    val want = 1.0 - num(manifest, "truncated_delivered").toDouble / num(manifest, "scripts_delivered")
    check("block_etl decode_ok_ratio matches manifest")(math.abs(okRatio - want) < 1e-12,
      s"$okRatio != $want")
    layer("ingest.avro_rows") = avroRows.toDouble / rounds
    layer("ingest.avro_files") = avroFiles.toDouble / rounds
    layer("ingest.avro_bytes") = avroBytes.toDouble / rounds
    layer("ingest.warehouse_bytes") = whBytes.toDouble / rounds
    layer("ingest.etl_rows_in") = whRows.toDouble / rounds
    layer("ingest.etl_rows_out") = etlOut.toDouble / rounds
    layer("ingest.etl_dedup_ratio") = distinct.toDouble / whRows
    layer("ingest.bytes_per_tx") = bytes.toDouble / txIn
  }

  private def cumDistinct(k: Int): Long = deliveries.take(k + 1).map(num(_, "new_blocks")).sum

  // -- analyst_mix ------------------------------------------------------------

  def analystMix(): Unit = {
    val fns = SparkEntry.queries
    val missing = MixQueries.filterNot(fns.contains)
    require(missing.isEmpty, s"queries missing from the registry: $missing")
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def runQuery(name: String): Double = {
      SharedFrames.setPayer(name)
      val sec = op(name) {
        tracer.span("queries", name) {
          fns(name)(spark, o.data).write.format("noop").mode(SaveMode.Overwrite).save()
        }
      }
      sec.foreach(s => lat.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s)
      hygiene()
      sec.getOrElse(0.0)
    }
    // Warm-up: each query once, its result written for the DuckDB oracle
    // comparison made after the run (the timed passes run the same plans
    // into the noop sink).
    val out = s"${o.work}/check"
    def writeOutput(q: String): Unit = {
      SharedFrames.setPayer(q)
      op(s"$q output") {
        tracer.span("queries", q) {
          fns(q)(spark, o.data).write.mode(SaveMode.Overwrite).parquet(s"$out/$q")
        }
      }
      hygiene()
    }
    var paidN, paidS = 0.0
    val walls = loop(MixQueries.foreach(writeOutput)) { pass =>
      SharedFrames.clearBuildLog()
      val order = new scala.util.Random(o.seed * 1000003L + pass).shuffle(MixQueries)
      val wall = order.map(runQuery).sum
      paidN += SharedFrames.paidBuilds.values.map(_.size).sum
      paidS += SharedFrames.paidBuildSeconds.values.sum
      wall
    }
    val all = lat.values.flatten.toSeq
    metric("round_s", median(walls))
    // The typical query latency is the mean: the shared frames a pass
    // builds are paid by whichever consumer the seed puts first, which
    // moves a median or a geometric mean of 14 unlike queries but not the
    // mean (see README.md)
    metric("op_typical_s", all.sum / all.size)
    metric("ops", all.size)
    metric("op_p90_s", quantile(all, 0.9))
    metric("throughput_per_s", all.size / timedWall)
    MixQueries.foreach(q => layer(s"queries.${q}_s") = median(lat.getOrElse(q, Nil).toSeq))
    layer("ops.shared_builds") = paidN / rounds
    layer("ops.shared_build_s") = paidS / rounds
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => MixQueries.contains(k) }
    check("analyst_mix every query has an oracle")(oracles.size == MixQueries.size,
      s"oracles for ${oracles.keys.toSeq.sorted}")
    Files.write(Paths.get(out, "oracle_sql.json"), Json(oracles).getBytes("UTF-8"))
    result("oracle_dir") = out
  }

  // -- stream_ingest ----------------------------------------------------------

  def streamIngest(): Unit = {
    val hours = deliveries.length
    val src = s"${o.work}/stream-src"
    val p0 = System.nanoTime()
    tracer.span("bench", "prepare") { hourFiles(src) }
    metric("prepare_s", (System.nanoTime() - p0) / 1e9)
    val warmSrc = s"${o.work}/stream-warm-src"
    new File(warmSrc).mkdirs()
    val warmFiles = 2
    new File(src).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .take(warmFiles).foreach { f =>
        Files.copy(f.toPath, Paths.get(warmSrc, f.getName), StandardCopyOption.COPY_ATTRIBUTES)
      }
    val batchLat = mutable.ArrayBuffer.empty[Double]
    var rowsOut, inRows, files, avroBytes = 0L
    var addS, overS, stateRows = 0.0
    var nBatches = 0L
    val blocks = num(manifest, "blocks")

    def drain(from: String, dir: String): (Double, Long, Seq[BatchProgress]) = {
      tracer.synchronized(tracer.batches.clear())
      val t = op("drain") {
        tracer.span("streaming", "drain") {
          tracer.streamParent = tracer.current
          val in = spark.readStream.schema(Bitcoin.blockSchema)
            .option("maxFilesPerTrigger", 1).parquet(from)
            .withColumn("event_time", expr("timestamp_millis(timestamp)"))
          val q = Streams.rotatedAvroSink(
            Streams.dedupWithinWatermark(in, "event_time", Seq("block_id"), lateness = "1 hour"),
            "timestamp", 3600, s"$dir/avro", s"$dir/checkpoint")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
      }
      BenchBus.drain(sc)
      val (n, _) = avroRecords(s"$dir/avro")
      val bs = tracer.synchronized(tracer.batches.toList).filter(_.inputRows > 0)
      (t.getOrElse(0.0), n, bs)
    }

    val walls = loop {
      val (_, n, _) = drain(warmSrc, s"${o.work}/stream-warm")
      rmrf(new File(s"${o.work}/stream-warm"))
      check("stream_ingest warm-up sink rows")(n > 0, "no rows")
    } { i =>
      val dir = s"${o.work}/stream-$i"
      val (wall, n, bs) = drain(src, dir)
      checking {
        check(s"stream_ingest drain $i sink rows")(n == blocks, s"$n != $blocks distinct blocks")
        check(s"stream_ingest drain $i one batch per file")(bs.size == hours,
          s"${bs.size} data batches for $hours files")
      }
      batchLat ++= bs.map(_.triggerMs / 1e3)
      rowsOut += n
      inRows += bs.map(_.inputRows).sum
      nBatches += bs.size
      addS += bs.map(_.addBatchMs).sum / 1e3
      overS += bs.map(b => b.triggerMs - b.addBatchMs).sum / 1e3
      stateRows += bs.lastOption.map(_.stateRows).getOrElse(0L)
      val (_, f) = avroRecords(s"$dir/avro")
      files += f
      avroBytes += dirBytes(s"$dir/avro")
      rmrf(new File(dir))
      wall
    }
    metric("round_s", median(walls))
    metric("op_typical_s", median(batchLat.toSeq))
    metric("ops", batchLat.size)
    metric("op_p90_s", quantile(batchLat.toSeq, 0.9))
    metric("throughput_per_s", rowsOut / timedWall)
    layer("streaming.batches") = nBatches.toDouble / rounds
    layer("streaming.add_batch_s") = addS / rounds
    layer("streaming.overhead_s") = overS / rounds
    layer("streaming.state_rows") = stateRows / rounds
    layer("streaming.dup_drop_ratio") = (inRows - rowsOut).toDouble / inRows
    layer("ingest.avro_rows") = rowsOut.toDouble / rounds
    layer("ingest.avro_files") = files.toDouble / rounds
    layer("ingest.avro_bytes") = avroBytes.toDouble / rounds
  }

  /** The converted chain as one parquet file per chain-hour, in arrival
    * order (modification times one second apart, as a file stream orders
    * by them). */
  private def hourFiles(dst: String): Unit = {
    val hours = deliveries.length
    val raw = spark.read.parquet(s"${o.data}/stream_raw.parquet")
      .select((rawCols :+ "delivery").map(col): _*)
    val tmp = s"$dst-tmp"
    // one shuffle partition holds all of an hour, so each hour is one file
    new Convert(sc, false)(raw.repartition(o.cpus))
      .repartition(col("delivery")).write.partitionBy("delivery").parquet(tmp)
    new File(dst).mkdirs()
    val base = System.currentTimeMillis() - hours * 1000L
    for (h <- 0 until hours) {
      val files = new File(s"$tmp/delivery=$h").listFiles().filter(_.getName.endsWith(".parquet"))
      require(files.length == 1, s"hour $h: ${files.length} files")
      val to = new File(dst, f"hour-$h%04d.parquet")
      Files.move(files.head.toPath, to.toPath)
      to.setLastModified(base + h * 1000L)
    }
    rmrf(new File(tmp))
  }

  // -- results ----------------------------------------------------------------

  def finish(): Unit = {
    BenchBus.drain(sc)
    metric("warmup_s", warmS)
    metric("rounds", rounds)
    if (o.trace) traceMetrics()
    result("metrics") = metrics.toMap
    result("layer") = LayerMetrics.map { case (k, u) =>
      k -> Map("value" -> layer.getOrElse(k, 0.0), "unit" -> u) }.toMap
    result("checks") = checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq
    result("attempted_ops") = attempted
    result("failed_ops") = failedOps
    result("errors") = errors.toSeq
  }

  /** Per-layer figures from the spans of the timed rounds. */
  private def traceMetrics(): Unit = {
    val spans = tracer.all
    val timed = spans.filter(_.run == "timed")
    val kids = spans.groupBy(_.parent)
    def self(layerName: String, name: String): Double =
      timed.filter(s => s.layer == layerName && s.name == name)
        .map(s => Tracer.selfSeconds(s, kids.getOrElse(s.id, Nil))).sum / rounds
    layer("functions.convert_s") = self("functions", "convert")
    // on stream_ingest the span is the sink call of each micro-batch
    // (its addBatch interval; see README.md)
    layer("ingest.avro_write_s") = self("ingest", "avro_write")
    layer("ingest.warehouse_append_s") = self("ingest", "warehouse_append")
    layer("ingest.etl_replace_s") = self("ingest", "etl_replace")
    val per = tracer.perSpan()
    val t = timed.flatMap(s => per.get(s.id))
    layer("spark.jobs") = t.map(_.jobs).sum.toDouble / rounds
    layer("spark.tasks") = t.map(_.tasks).sum.toDouble / rounds
    layer("spark.task_busy_s") = t.map(_.runMs).sum / 1e3 / rounds
    layer("spark.core_util") = t.map(_.runMs).sum / 1e3 / (timedWall * o.cpus)
    layer("spark.sched_delay_s") = t.map(_.schedDelayMs).sum / 1e3 / rounds
    layer("spark.shuffle_write_bytes") = t.map(_.shuffleWrite).sum.toDouble / rounds
    layer("spark.shuffle_read_bytes") = t.map(_.shuffleRead).sum.toDouble / rounds
    layer("spark.spill_bytes") = t.map(_.spill).sum.toDouble / rounds
    layer("spark.task_gc_s") = t.map(_.gcMs).sum / 1e3 / rounds
    layer("trace.round_s") = metrics.getOrElse("round_s", 0.0)
    layer("trace.spans") = timed.size.toDouble / rounds
    // self time per layer, for the separation checks in the report
    result("layer_self_s") = timed.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => Tracer.selfSeconds(s, kids.getOrElse(s.id, Nil))).sum / rounds }
    val problems = tracer.attributionProblems()
    check("trace: every task attributed to exactly one span")(problems.isEmpty, problems.mkString("; "))
    check("trace: tasks seen")(tracer.tasksSeen > 0, "listener saw no tasks")
    val spanFile = s"${o.work}/spans.jsonl"
    Files.write(Paths.get(spanFile), spans.map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "tasks" -> per.get(s.id).map(_.tasks).getOrElse(0L),
      "jobs" -> per.get(s.id).map(_.jobs).getOrElse(0L)))).mkString("\n").getBytes("UTF-8"))
    result("spans") = spanFile
  }
}

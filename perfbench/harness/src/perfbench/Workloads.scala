package perfbench

import graft.{Caching, SparkEntry, Tables}
import graft.nilm.{NilmDataset, TensorPrep}
import graft.operators.{Postprocess, Sessionize}
import graft.queries.{DocumentQueries, NilmQueries, RelationalQueries, TimeSeriesQueries}
import graft.sources.{Container, MqttSource, OlaSource, RefitSource, UkdaleSource}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** A query pack: its queries in id order. The timed sample is every
  * `Every`-th query from the second on (a fixed, systematic sample that
  * keeps one pass inside a run's time budget); the first query is the
  * untimed warm-up op. */
final case class Pack(names: Seq[String]) {
  def warmup: String = names.head
  def sample: Seq[String] = names.drop(1).grouped(Packs.Every).map(_.head).toSeq
}

object Packs {
  val Every = 11
  private def byId(keys: Iterable[String]): Seq[String] =
    keys.toSeq.sortBy(n => n.drop(1).takeWhile(_.isDigit).toInt)
  def nilm: Pack = Pack(byId(RelationalQueries.defs.keys ++
    TimeSeriesQueries.defs.keys ++ NilmQueries.defs.keys))
  def doc: Pack = Pack(byId(DocumentQueries.defs.keys))
  val StarTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
}

/** `nilm_pack` / `doc_pack`: the pack's sample, one query at a time in
  * a seed-shuffled order, each cache-cold (as graft.Bench runs them).
  * An op is build + plan + action + collect. */
final class PackWorkload(val run: Main.Run, star: String, pack: Pack, out: Path)
    extends Workload {
  private val order = new scala.util.Random(run.seed).shuffle(pack.sample)
  /** The first result of each query (the one checked against the
    * oracle) and its hash; every later result must hash the same. */
  private val checked = scala.collection.mutable.Map[String, (Array[Row], StructType, String)]()

  def setUp(spark: SparkSession): SparkSession = {
    Packs.StarTables.foreach(Tables.table(spark, star, _))
    Tables.events(spark, star)
    SparkEntry.queries(pack.warmup)(spark, star).collect()
    release(spark)
    spark
  }

  private def release(spark: SparkSession): Unit = {
    Caching.release()
    spark.catalog.clearCache()
  }

  def pass(spark: SparkSession, t: Tracer, leg: String, k: Int): Unit =
    order.foreach { name =>
      release(spark)
      run.untimed(t)(HeapPeak.mark())
      var error: Option[String] = None
      var latency = 0.0
      t.op("op", Map("query" -> name)) {
        val t0 = System.nanoTime()
        try {
          val df = t.span("queries.build")(SparkEntry.queries(name)(spark, star))
          val qe = df.queryExecution
          t.span("catalyst.plan")(qe.executedPlan)
          val rows = t.span("exec.action")(df.collect())
          latency = (System.nanoTime() - t0) / 1e9
          run.untimed(t) {
            val h = hash(rows)
            checked.get(name) match {
              case None => checked(name) = (rows, df.schema, h)
              case Some((_, _, h0)) if h0 != h =>
                error = Some("result differs from the checked result")
              case _ => ()
            }
            HeapPeak.sample()
            if (t.enabled) {
              qe.tracker.phases.foreach { case (phase, s) =>
                run.count(s"catalyst.${phase}_s", s.durationMs / 1e3)
              }
              run.count("exec.result_rows", rows.length)
              run.count("caching.persists", Caching.highWaterMark)
              run.count("caching.stored_bytes", spark.sparkContext.getRDDStorageInfo
                .map(r => r.memSize + r.diskSize).sum.toDouble)
            }
          }
        } catch {
          case e: Throwable =>
            latency = (System.nanoTime() - t0) / 1e9
            error = Some(e.toString.take(300))
        }
        t.span("caching.release")(release(spark))
      }
      run.ops += Main.Op(name, leg, k, latency, error)
    }

  /** Order-insensitive hash of a collected result. */
  private def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Write each checked result and the oracle SQL for the Python side's
    * DuckDB comparison. */
  def check(spark: SparkSession): Unit = {
    val dir = out.resolve("results").toString
    val oracles = SparkEntry.oracleSql
    checked.foreach { case (name, (rows, schema, _)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name")
    }
    Files.createDirectories(Path.of(dir))
    Json.write(Path.of(s"$dir/oracle_sql.json"),
      order.flatMap(n => oracles.get(n).map(n -> _)).toMap)
    run.info("queries") = order
  }
}

/** `ingest_etl`: the reference pipeline over the seeded raw tree. One
  * pass is raw tree → canonical container → resample / aggregate /
  * common channels → tensor windows written → on/off runs written;
  * each stage is one op. */
final class IngestWorkload(val run: Main.Run, raw: String, out: Path) extends Workload {
  val SeqLen = 512
  val Step = 256
  val ResampleS = 24L
  val OnWatts = 50.0
  private var lastDir = ""

  def setUp(spark: SparkSession): SparkSession = {
    UkdaleSource.metadata(spark, s"$raw/ukdale").count()
    spark
  }

  def pass(spark: SparkSession, t: Tracer, leg: String, k: Int): Unit = {
    // one directory per pass of the run: a pass never sees another's output
    val dir = out.resolve(s"ingest/pass-${run.passes.size}").toString
    lastDir = dir
    def stage[A](name: String)(body: => A): A = {
      run.untimed(t)(HeapPeak.mark())
      val t0 = System.nanoTime()
      var error: Option[String] = None
      try t.span(name)(body)
      catch { case e: Throwable => error = Some(e.toString.take(300)); throw e }
      finally {
        run.ops += Main.Op(name, leg, k, (System.nanoTime() - t0) / 1e9, error)
        run.untimed(t)(HeapPeak.sample())
      }
    }
    def observe(key: String, v: Long): Unit = {
      run.info(s"observed.$key") = v
      if (t.enabled) run.count(key, v.toDouble)
    }
    try t.op("ingest") {
      def source(name: String)(load: => (NilmDataset, Long)): NilmDataset = {
        val (ds, rowsOut) = stage(s"sources.$name")(load)
        observe(s"sources.${name}_rows_out", rowsOut)
        ds
      }
      val uk = source("ukdale") {
        val d = UkdaleSource.load(spark, s"$raw/ukdale")
        (d, d.readings.count())
      }
      val re = source("refit") {
        val d = RefitSource.load(spark, s"$raw/refit")
        (d, d.readings.count())
      }
      val ola = source("mqtt") {
        // the reference's preprocess_shelly → OlaLoader hand-off: parsed
        // MQTT readings pivoted wide, epoch-second index column
        val r = MqttSource.load(spark, s"$raw/mqtt/mqtt.log.*")
        val n = r.count()
        val wide = MqttSource.pivoted(r)
          .withColumn("timestamp", col("ts").cast("long")).drop("ts")
        (OlaSource.load(spark, wide, null), n)
      }
      val ds = uk.union(re).union(ola)
      stage("container.write")(Container.write(ds, s"$dir/container"))
      val c = Container.read(spark, s"$dir/container")
      stage("container.read") {
        observe("container.readings", c.readings.count())
        observe("container.channels", c.channels.count())
      }
      val r = c.resampleAllChannels(ResampleS)
      stage("nilm.resample")(r.readings.count())
      stage("nilm.aggregate")(r.computeAggregateFromAppliances().count())
      stage("nilm.common_channels")(r.commonChannels(Seq("aggregate", "kettle")).count())
      val w = TensorPrep.windows(r, SeqLen, Step)
      stage("tensorprep.windows")(observe("tensorprep.windows", w.count()))
      stage("tensorprep.write")(TensorPrep.write(w, s"$dir/tensors"))
      stage("postprocess.onoff") {
        val appliances = r.readings.join(
          r.channels.filter(lower(col("raw_label")) =!= "aggregate")
            .select("dataset", "house_id", "channel_id"),
          Seq("dataset", "house_id", "channel_id"))
        Postprocess.runs(appliances,
            concat_ws("/", col("dataset"), col("house_id"), col("channel_id")),
            Seq(col("ts")), Postprocess.threshold(col("power"), OnWatts))
          .filter(col("state") === 1)
          .write.mode("overwrite").parquet(s"$dir/onoff")
        observe("postprocess.on_runs", spark.read.parquet(s"$dir/onoff").count())
      }
      t.span("caching.release")(Caching.release())
      if (t.enabled) {
        val (files, bytes) = sizeOf(Path.of(s"$dir/container"))
        run.count("container.bytes_written", bytes.toDouble)
        run.count("container.files", files.toDouble)
      }
    } catch {
      // the failing stage is already recorded with its error; the rest
      // of the pass depends on it
      case e: Throwable => System.err.println(s"[perfbench] ingest pass failed: $e")
    }
  }

  private def sizeOf(p: Path): (Long, Long) = {
    val fs = scala.util.Using.resource(Files.walk(p))(
      _.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toList)
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  /** The counts the Python side compares with the generator's
    * closed-form ones, read from the last pass's container. */
  def check(spark: SparkSession): Unit = {
    val c = Container.read(spark, s"$lastDir/container")
    run.info("observed.labels.other_channels") =
      c.channels.filter(col("universal_label") === "other").count()
    run.info("observed.refit_rates") = c.channels
      .filter(col("dataset") === "refit").select("sample_rate_s").distinct()
      .collect().map(_.get(0)).map(String.valueOf).sorted.mkString(",")
    if (run.trace)
      run.count("labels.other_channels",
        run.info("observed.labels.other_channels").asInstanceOf[Long].toDouble)
  }
}

/** `stream_replay`: the events table replayed as time-ordered file
  * chunks, one micro-batch per chunk, through three stateful
  * StreamingOps legs (watermarked bucket mean, gap sessionize, TTL exact
  * dedup), each drained to completion. An op is one micro-batch. */
final class StreamWorkload(val run: Main.Run, chunks: String, out: Path) extends Workload {
  val Sentinel = "__sentinel"
  val Gap = 1800L
  val Lateness = "1 hour"
  val Legs = Seq("bucket_mean", "sessionize", "ttl_dedup")
  private var lastDir = ""

  def setUp(spark: SparkSession): SparkSession = {
    spark.read.parquet(chunks).count()
    spark
  }

  private def noSentinel(df: DataFrame) =
    if (df.columns.contains("device")) df.filter(col("device") =!= Sentinel) else df

  private def asDocs(df: DataFrame) = df.select(
    xxhash64(col("device"), col("ts")).as("doc_id"), col("ts"),
    concat(col("event_type"), lit("_"),
      pmod(col("apower").cast("long"), lit(50L)).cast("string")).as("text"))

  private def streamOf(spark: SparkSession, leg: String): DataFrame = {
    val schema = spark.read.parquet(chunks).schema
    val s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(chunks)
    leg match {
      case "bucket_mean" => StreamingOps.bucketMean(
        s.select(col("device"), col("ts"), col("apower")), "1 hour", Lateness)
      case "sessionize" => StreamingOps.sessionize(
        noSentinel(s).select(col("device"), col("ts"), col("apower")), Gap).toDF()
      case "ttl_dedup" => StreamingOps.dedupDocsExact(
        asDocs(noSentinel(s)).withWatermark("ts", Lateness), 100L * 86400L).toDF()
    }
  }

  def pass(spark: SparkSession, t: Tracer, leg: String, k: Int): Unit = {
    // one directory per pass of the run: a pass never resumes another's checkpoint
    val dir = out.resolve(s"stream/pass-${run.passes.size}").toString
    lastDir = dir
    t.op("stream") {
      Legs.foreach { name =>
        run.untimed(t)(HeapPeak.mark())
        t.span(s"streaming.$name") {
          val q = streamOf(spark, name).writeStream.format("parquet")
            .option("path", s"$dir/$name")
            .option("checkpointLocation", s"$dir/${name}_cp").start()
          try q.processAllAvailable()
          catch {
            case e: Throwable =>
              run.ops += Main.Op(name, leg, k, 0.0, Some(e.toString.take(300)))
          }
          run.untimed(t)(HeapPeak.sample()) // the leg's state is still loaded
          q.stop()
          // the progress reports: one op and, traced, one span per batch
          val progress = q.recentProgress
          progress.foreach { p =>
            val d = p.durationMs.asScala.map { case (k2, v) => k2 -> v.longValue }
            val trig = d.getOrElse("triggerExecution", 0L)
            run.ops += Main.Op(name, leg, k, trig / 1e3, None)
            if (t.enabled) {
              val end = java.time.Instant.parse(p.timestamp).toEpochMilli + trig
              val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
              t.record("streaming.batch", (end - trig) * 1000000L + offset,
                end * 1000000L + offset,
                Map("leg" -> name, "batch" -> p.batchId, "rows" -> p.numInputRows))
              run.count("streaming.batches", 1)
              run.count("streaming.input_rows", p.numInputRows.toDouble)
              run.count("streaming.add_batch_s", d.getOrElse("addBatch", 0L) / 1e3)
              run.count("streaming.trigger_overhead_s",
                (trig - d.getOrElse("addBatch", 0L)) / 1e3)
              run.count("streaming.state_commit_s",
                p.stateOperators.map(_.commitTimeMs).sum / 1e3)
            }
          }
          if (t.enabled) progress.lastOption.foreach { p =>
            run.count("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
            run.count("streaming.state_mem_bytes",
              progress.map(_.stateOperators.map(_.memoryUsedBytes).sum).max.toDouble)
          }
        }
      }
    }
  }

  /** The StreamingParityCheck rule: each leg's final sink equals the
    * batch operator on the same rows under `exceptAll` both ways. */
  def check(spark: SparkSession): Unit = {
    val base = noSentinel(spark.read.parquet(chunks))
    val expected = Map(
      "bucket_mean" -> base.groupBy(col("device"), window(col("ts"), "1 hour").as("w"))
        .agg(avg(col("apower")).as("apower"))
        .select(col("device"), col("w.start").as("bucket_start"), col("apower")),
      "sessionize" -> Sessionize.assignSessions(
          base.select(col("device"), col("ts"), col("apower")),
          col("device"), col("ts"), Nil, Gap)
        .select(col("device"), col("ts"), col("apower"),
          col("session_id").cast("long")),
      "ttl_dedup" -> asDocs(base).groupBy(md5(col("text")).as("__k"))
        .agg(min(struct(col("ts"), col("doc_id"), col("text"))).as("m"))
        .select(col("m.doc_id"), col("m.ts"), col("m.text")))
    Legs.foreach { name =>
      val got = noSentinel(spark.read.parquet(s"$lastDir/$name"))
      val exp = expected(name)
      val extra = got.exceptAll(exp).count()
      val missing = exp.exceptAll(got).count()
      val n = exp.count()
      run.check(s"parity:$name", extra == 0 && missing == 0 && n > 0,
        s"rows=$n stream_extra=$extra stream_missing=$missing")
    }
    Caching.release(); spark.catalog.clearCache()
  }
}

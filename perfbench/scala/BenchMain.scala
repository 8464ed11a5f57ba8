package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{DriverManager, SQLException}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.storage.StorageLevel
import graft.{Schemas, SparkEntry}
import graft.operators.{Integrity, Upsert}
import graft.pipelines.{PlaylistIngest, VideoIngest}
import graft.sinks.JdbcUpsertSink
import graft.sources.Sources
import graft.streaming.HistoryPipeline

/** The benchmark's JVM side: sets up Spark and Derby, runs one workload
  * against the engine's public functions and writes `result.json` (raw
  * samples, counters, spans) plus the dumps `run.py` checks.
  *
  * Arguments (all `--name value`): workload, inputs, out, seconds,
  * trace (0|1), cores, queries (comma-separated registry names),
  * latency-query and repeats (the query_mix latency operation and how
  * often it runs), launch-ns (wall-clock ns at process launch, so set-up
  * counts JVM start).
  */
object BenchMain {

  /** yark's never-downgrade rule (cmds/archive.py:162) as the MERGE guard
    * over the staged row `s`. */
  val W2Guard: String = "s.title IS NOT NULL AND s.channel IS NOT NULL AND " +
    "s.filesize IS NOT NULL AND s.duration IS NOT NULL"

  /** The 9-table catalog with primary keys only: referential integrity is
    * the engine's job (Integrity), as in the paper. `history` is keyed on
    * its natural key (video, watched), the key yark dedups on. */
  val Ddl: Seq[String] = Seq(
    """CREATE TABLE users (user_id VARCHAR(64) NOT NULL PRIMARY KEY,
      username VARCHAR(256))""",
    """CREATE TABLE channels (channel_id VARCHAR(64) NOT NULL PRIMARY KEY,
      uploader_id VARCHAR(64), name VARCHAR(256),
      channel_follower_count BIGINT, url VARCHAR(256))""",
    """CREATE TABLE tags (name VARCHAR(256) NOT NULL PRIMARY KEY)""",
    """CREATE TABLE video_tags (id BIGINT NOT NULL PRIMARY KEY,
      video VARCHAR(16), tag VARCHAR(256))""",
    """CREATE TABLE comments (comment_id VARCHAR(64) NOT NULL PRIMARY KEY,
      video VARCHAR(16), author VARCHAR(64), content VARCHAR(4000),
      likes BIGINT, is_favorited BOOLEAN, author_is_uploader BOOLEAN,
      parent VARCHAR(64), timestamp TIMESTAMP)""",
    """CREATE TABLE videos (video_id VARCHAR(16) NOT NULL PRIMARY KEY,
      title VARCHAR(512), description VARCHAR(4000), channel VARCHAR(64),
      thumbnail BLOB, thumbnail_url VARCHAR(512), duration BIGINT,
      views BIGINT, age_limit BIGINT, live_status VARCHAR(32), likes BIGINT,
      dislikes BIGINT, rating DOUBLE, upload_timestamp TIMESTAMP,
      availability VARCHAR(32), width BIGINT, height BIGINT, fps DOUBLE,
      audio_channels BIGINT, category VARCHAR(64), filesize BIGINT,
      archived TIMESTAMP)""",
    """CREATE TABLE history (video VARCHAR(16) NOT NULL,
      watched TIMESTAMP NOT NULL, PRIMARY KEY (video, watched))""",
    """CREATE TABLE playlists (playlist_id VARCHAR(256) NOT NULL PRIMARY KEY,
      channel VARCHAR(64), created TIMESTAMP, updated TIMESTAMP,
      title VARCHAR(256), description VARCHAR(4000),
      visibility VARCHAR(32))""",
    """CREATE TABLE playlist_videos (pl BIGINT NOT NULL,
      playlist VARCHAR(256) NOT NULL, video VARCHAR(16), added TIMESTAMP,
      PRIMARY KEY (playlist, pl))""")

  /** Columns each dump writes, in the order gen.py hashes them. */
  val DumpCols: Seq[(String, String)] = Seq(
    "users" -> "user_id, username",
    "channels" -> "channel_id, uploader_id, name, channel_follower_count, url",
    "tags" -> "name",
    "video_tags" -> "video, tag",
    "comments" -> ("comment_id, video, author, content, likes, " +
      "is_favorited, author_is_uploader, parent, timestamp"),
    "videos" -> ("video_id, title, description, channel, thumbnail, " +
      "thumbnail_url, duration, views, age_limit, live_status, likes, " +
      "dislikes, rating, upload_timestamp, availability, width, height, " +
      "fps, audio_channels, category, filesize, archived"),
    "history" -> "video, watched",
    "playlists" -> ("playlist_id, channel, created, updated, title, " +
      "description, visibility"),
    "playlist_videos" -> "pl, playlist, video, added")

  // ------------------------------------------------------------ results

  final class Result {
    val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val errors = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    def add(k: String, v: Double): Unit =
      samples.getOrElseUpdate(k, ArrayBuffer.empty) += v

    /** Run one operation; an exception counts it failed and is kept. */
    def op[T](name: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failed += 1
          errors += s"$name: ${e.getClass.getName}: ${e.getMessage}"
            .take(2000)
          e.printStackTrace()
          None
      }
    }
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  // ------------------------------------------------------------- set-up

  def session(master: String, parts: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def createCatalog(url: String): Unit = {
    val c = DriverManager.getConnection(url)
    try Ddl.foreach(d => c.createStatement().execute(d)) finally c.close()
  }

  def dropDb(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
      .close()
    catch { case _: SQLException => () } // 08006 reports a successful drop

  /** Canonical text of one dumped value, matching gen.canon. */
  private def canon(v: Any): String = v match {
    case null => "\\N"
    case b: java.lang.Boolean => if (b) "true" else "false"
    case d: java.lang.Double => String.format(java.util.Locale.ROOT, "%.6f", d)
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
        .toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  /** Write every catalog table as TSV (one canonical row per line). */
  def dumpCatalog(url: String, dir: String, tables: Seq[String]): Unit = {
    new File(dir).mkdirs()
    val c = DriverManager.getConnection(url)
    try DumpCols.filter(t => tables.contains(t._1)).foreach { case (t, cols) =>
      val rs = c.createStatement().executeQuery(s"SELECT $cols FROM $t")
      val n = rs.getMetaData.getColumnCount
      val w = Files.newBufferedWriter(Paths.get(dir, s"$t.tsv"))
      try while (rs.next()) {
        w.write((1 to n).map(i => canon(rs.getObject(i) match {
          case b: java.sql.Blob => b.getBytes(1, b.length.toInt)
          case x => x
        })).mkString("\u001f"))
        w.write("\n")
      } finally w.close()
    } finally c.close()
  }

  def rssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  // ---------------------------------------------------------- ingest path

  /** Stage outputs in the traced run are pinned and forced with count(),
    * so each span times its own layer instead of re-running the lazy plan
    * upstream of it; the forcing count is also the stage's row count. */
  final class Stager(tr: Tracer) {
    private val pinned = ArrayBuffer.empty[DataFrame]
    /** Rows of the frames the last `apply` forced (0 when untraced). */
    var rows = 0L
    def apply(dfs: Seq[DataFrame]): Seq[DataFrame] =
      if (!tr.enabled) dfs
      else {
        val p = dfs.map(_.persist(StorageLevel.MEMORY_AND_DISK))
        rows = p.map(_.count()).sum
        pinned ++= p
        p
      }
    def release(): Unit = { pinned.foreach(_.unpersist(true)); pinned.clear() }
  }

  final class IngestCounts {
    var rowsIn, corrupt, rowsOut, deduped, fkViolations, deleted = 0L
  }

  /** One yark archive batch: decode → refine → in-batch dedup → FK check
    * → staged MERGE of all nine tables. */
  def runBatch(spark: SparkSession, dir: String, url: String, tr: Tracer,
      op: String, ic: IngestCounts): Unit = {
    import spark.implicits._
    val stage = new Stager(tr)
    try {
      val csvFiles = Option(new File(dir, "playlists").listFiles())
        .getOrElse(Array.empty[File]).filter(_.getName.endsWith(".csv"))
        .sortBy(_.getName).toSeq
      val (info, ryd, hist, csvs) = tr.span("sources.decode", op) {
        val raw = Seq(
          Sources.ytdlpJsonl(spark, s"$dir/info.jsonl"),
          spark.read.schema(Schemas.ryd).json(s"$dir/ryd.jsonl"),
          Sources.takeoutHistoryJson(spark, s"$dir/history.json")) ++
          csvFiles.map(f => PlaylistIngest.readCsv(spark, f.getPath))
        val s = stage(raw)
        ic.rowsIn += stage.rows
        (s(0), s(1), s(2), csvFiles.map(_.getName.stripSuffix(".csv"))
          .zip(s.drop(3)))
      }
      if (tr.enabled) ic.corrupt += tr.outside(csvs.map(
        _._2.filter(col("_corrupt_record").isNotNull).count()).sum)
      val derived: Seq[(String, DataFrame, Seq[String])] =
        tr.span("pipelines.refine", op) {
          val pls = csvs.map { case (stem, rows) =>
            val header = PlaylistIngest.playlistFromCsv(spark, stem)
            val pid = header.select("playlist_id").as[String].first()
            (header, PlaylistIngest.membership(rows, pid))
          }
          val base = Seq(
            ("users", VideoIngest.users(info)
              .unionByName(VideoIngest.commentAuthors(info)), Seq("user_id")),
            ("channels", VideoIngest.channels(info), Seq("channel_id")),
            ("tags", VideoIngest.tags(info), Seq("name")),
            ("videos", VideoIngest.refineMetadata(info, ryd),
              Seq("video_id")),
            ("video_tags", VideoIngest.videoTags(info), Seq("id")),
            ("comments", VideoIngest.comments(info), Seq("comment_id")),
            ("history", HistoryPipeline.batch(hist), Seq("video", "watched")))
          val all = base ++ (if (pls.isEmpty) Nil else Seq(
            ("playlists", pls.map(_._1).reduce(_ unionByName _),
              Seq("playlist_id")),
            ("playlist_videos", pls.map(_._2).reduce(_ unionByName _),
              Seq("playlist", "pl"))))
          val s = stage(all.map(_._2))
          ic.rowsOut += stage.rows
          all.zip(s).map { case ((n, _, k), d) => (n, d, k) }
        }
      val tables = tr.span("operators.dedup", op) {
        val s = stage(derived.map { case (_, d, k) =>
          Upsert.insertIfAbsent(d.limit(0), d, k) })
        ic.deduped += stage.rows
        derived.zip(s).map { case ((n, _, k), d) => (n, d, k) }
      }
      val t = tables.map(x => x._1 -> x._2).toMap
      val violations = tr.span("operators.fk_check", op) {
        val checks = Seq(
          Integrity.fkViolations(t("comments"), "author", t("users"),
            "user_id"),
          Integrity.fkViolations(t("comments"), "video", t("videos"),
            "video_id"),
          Integrity.fkViolations(t("comments"), "parent", t("comments"),
            "comment_id"),
          Integrity.fkViolations(t("video_tags"), "tag", t("tags"), "name"),
          Integrity.fkViolations(t("video_tags"), "video", t("videos"),
            "video_id"),
          Integrity.fkViolations(t("videos"), "channel", t("channels"),
            "channel_id")) ++ t.get("playlist_videos").map(pv =>
          Integrity.fkViolations(pv, "playlist", t("playlists"),
            "playlist_id"))
        checks.map(_.count()).sum
      }
      ic.fkViolations += violations
      if (violations > 0)
        throw new IllegalStateException(
          s"$violations FK violations in $dir; batch not written")
      tr.span("sinks.merge", op) {
        tables.foreach { case (n, d, k) =>
          JdbcUpsertSink(url, n, k).upsertStagedMerge(d,
            guardSql = if (n == "videos") W2Guard else "1=0")
        }
      }
    } finally stage.release()
  }

  /** Unarchive a set of videos: the cascade is computed by the engine
    * over the catalog read back from Derby, then applied with deletes. */
  def unarchive(spark: SparkSession, url: String, readUrl: String,
      vids: Seq[String], tr: Tracer, op: String, ic: IngestCounts): Unit = {
    import spark.implicits._
    val (delC, delT) = tr.span("operators.cascade", op) {
      val props = new Properties()
      val comments = spark.read.jdbc(readUrl, "comments", props)
        .select("comment_id", "video", "parent")
      val videoTags = spark.read.jdbc(readUrl, "video_tags", props)
        .select("id", "video", "tag")
      val ids = vids.toDF("video_id")
      val (survC, survT) =
        Integrity.unarchiveVideo(ids, "video_id", comments, videoTags)
      // materialize the delete sets before deleting what they were read from
      (comments.select("comment_id").except(survC.select("comment_id"))
        .as[String].collect(),
        videoTags.select("id").except(survT.select("id")).as[Long].collect())
    }
    ic.deleted += delC.length + delT.length + vids.length
    tr.span("sinks.delete", op) {
      JdbcUpsertSink(url, "comments", Seq("comment_id"))
        .deleteByKeys(delC.toSeq.toDF("comment_id"))
      JdbcUpsertSink(url, "video_tags", Seq("id"))
        .deleteByKeys(delT.toSeq.toDF("id"))
      JdbcUpsertSink(url, "videos", Seq("video_id"))
        .deleteByKeys(vids.toDF("video_id"))
    }
  }

  /** One ingest pass into a fresh Derby database. A cold pass (the first
    * in the JVM) runs the load batch alone, the one-shot archive run a user
    * pays for, then one unarchive to warm the cascade path; a warm pass
    * runs the load and upgrade batches, then every unarchive set, each
    * timed as one operation. Returns the seconds the batches took. */
  def ingestPass(spark: SparkSession, in: String, n: Int, cold: Boolean,
      tr: Tracer, sets: Seq[Seq[String]], r: Result, ic: IngestCounts,
      out: Option[String]): Double = {
    val db = s"p$n"
    val plain = s"jdbc:derby:memory:$db"
    createCatalog(s"$plain;create=true")
    val url = if (tr.enabled) s"${CountingJdbc.Prefix}derby:memory:$db"
      else plain
    try {
      val t0 = System.nanoTime()
      r.op(s"pass$n/load")(runBatch(spark, s"$in/load", url, tr,
        s"pass$n/load", ic))
      if (!cold) r.op(s"pass$n/upgrade")(runBatch(spark, s"$in/upgrade", url,
        tr, s"pass$n/upgrade", ic))
      val ingest = secs(t0, System.nanoTime())
      (if (cold) sets.take(1) else sets).zipWithIndex.foreach {
        case (vids, k) =>
          val u0 = System.nanoTime()
          r.op(s"pass$n/unarchive$k")(unarchive(spark, url, plain, vids, tr,
            s"pass$n/unarchive$k", ic))
          if (!cold) r.add("unarchive_s", secs(u0, System.nanoTime()))
      }
      out.foreach(d => dumpCatalog(plain, d, DumpCols.map(_._1)))
      ingest
    } finally dropDb(db)
  }

  def readUnarchiveSets(in: String): Seq[Seq[String]] = {
    val node = new ObjectMapper().readTree(new File(s"$in/unarchive.json"))
    node.elements().asScala.map(_.elements().asScala.map(_.asText).toSeq)
      .toSeq
  }

  // ------------------------------------------------------------- stream

  final case class Epoch(id: Long, endNs: Long, trigger: Long, planning: Long,
      addBatch: Long, commit: Long, stateRows: Long, stateBytes: Long,
      droppedByWatermark: Long, duplicatesDropped: Long, inputRows: Long)

  /** Open loop: files are moved into the source directory on a fixed
    * schedule whatever the stream's progress; each file's latency runs
    * from its scheduled drop to the Derby commit of its epoch. Epochs
    * start on a fixed processing-time trigger, longer than an epoch takes,
    * so the files an epoch carries do not depend on how long the one
    * before it took. */
  def runStream(spark: SparkSession, in: String, out: String, tr: Tracer,
      r: Result): Unit = {
    val plain = "jdbc:derby:memory:stream"
    createCatalog(s"$plain;create=true")
    val url = if (tr.enabled) s"${CountingJdbc.Prefix}derby:memory:stream"
      else plain
    val src = new File(out, "stream_in"); src.mkdirs()
    val ckpt = new File(out, "stream_ckpt").getPath
    val sched = new ObjectMapper().readTree(new File(s"$in/schedule.json"))
    val files = sched.get("files").elements().asScala.map(f =>
      (f.get("file").asText, f.get("due_s").asDouble,
        f.get("warmup").asBoolean)).toIndexedSeq
    val merge = JdbcUpsertSink(url, "history", Seq("video", "watched"))
      .foreachBatchStagedMerge()
    val commits = new ConcurrentHashMap[Long, Long]()
    val merges = new ConcurrentHashMap[Long, (Long, Long)]()
    val epochs = new ConcurrentHashMap[Long, Epoch]()
    val fn: (DataFrame, Long) => Unit = (df, id) => {
      val t0 = System.nanoTime()
      merge(df, id)
      val t1 = System.nanoTime()
      merges.put(id, (t0, t1))
      commits.put(id, t1)
    }
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
          : Unit = {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long =
          Option(d.get(k)).map(_.longValue).getOrElse(0L)
        val st = p.stateOperators.headOption
        epochs.put(p.batchId, Epoch(p.batchId, System.nanoTime(),
          ms("triggerExecution"), ms("queryPlanning"), ms("addBatch"),
          ms("walCommit") + ms("commitOffsets"),
          st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.memoryUsedBytes).getOrElse(0L),
          st.map(_.numRowsDroppedByWatermark).getOrElse(0L),
          st.flatMap(s =>
            Option(s.customMetrics.get("numDroppedDuplicateRows")))
            .map(_.longValue).getOrElse(0L),
          p.numInputRows))
      }
    }
    spark.streams.addListener(listener)
    val staging = new File(in, "stream_src")
    def drop(name: String): Unit = Files.move(
      new File(staging, name).toPath, new File(src, name).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    val dropNs = mutable.Map.empty[String, Long]
    val dueNs = mutable.Map.empty[String, Long]

    val root = System.nanoTime()
    val probe = files.head._1
    dueNs(probe) = root
    drop(probe)
    dropNs(probe) = System.nanoTime()
    val q = HistoryPipeline.stream(Sources.takeoutHistoryStream(spark,
        src.getPath))
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(
        (sched.get("trigger_s").asDouble * 1000).toLong))
      .foreachBatch(fn)
      .start()
    try {
      while (commits.isEmpty && q.isActive) Thread.sleep(5)
      val first = commits.values.asScala.min
      r.add("first_pass_s", secs(root, first))
      val t0 = System.nanoTime()
      files.tail.foreach { case (name, due, _) =>
        val at = t0 + (due * 1e9).toLong
        var now = System.nanoTime()
        while (now < at) {
          Thread.sleep(math.max(0L, (at - now) / 1000000L))
          now = System.nanoTime()
        }
        dueNs(name) = at
        drop(name)
        dropNs(name) = System.nanoTime()
      }
      q.processAllAvailable()
    } finally {
      q.stop()
      Bus.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    val end = System.nanoTime()
    q.exception.foreach(e => throw e)

    // file → epoch from the checkpoint's source log (compacted or not)
    val mapper = new ObjectMapper()
    val epochOf = mutable.Map.empty[String, Long]
    Option(new File(ckpt, "sources/0").listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith(".")).foreach { f =>
        scala.io.Source.fromFile(f).getLines().drop(1).foreach { line =>
          val e = mapper.readTree(line)
          epochOf(new File(new java.net.URI(e.get("path").asText)).getName) =
            e.get("batchId").asLong
        }
      }
    val measuredEpochs = mutable.Set.empty[Long]
    files.tail.foreach { case (name, _, isWarm) =>
      epochOf.get(name).flatMap(id => Option(commits.get(id))) match {
        case Some(c) =>
          r.attempted += 1
          if (!isWarm) {
            r.add("latency_s", secs(dueNs(name), c))
            measuredEpochs += epochOf(name)
          }
        case None =>
          r.attempted += 1; r.failed += 1
          r.errors += s"$name: no committed epoch carried it"
      }
    }
    val eps = epochs.values.asScala.toSeq.sortBy(_.id)
    eps.filter(e => measuredEpochs(e.id))
      .foreach(e => r.add("epoch_s", e.trigger / 1000.0))
    val lateS = files.tail.map(f => secs(dueNs(f._1), dropNs(f._1))).max
    val perEpochFiles = epochOf.groupBy(_._2).values.map(_.size)
    r.info("stream_files") = files.size
    r.info("stream_epochs") = eps.count(_.inputRows > 0)
    r.info("generator_late_max_s") = lateS

    if (tr.enabled) {
      val withData = eps.filter(_.inputRows > 0)
      val n = math.max(1, withData.size)
      val rootId = tr.record("workload", -1L, "stream", root, end)
      eps.foreach { e =>
        val eid = tr.record("streaming.epoch", rootId, s"epoch${e.id}",
          e.endNs - e.trigger * 1000000L, e.endNs)
        Option(merges.get(e.id)).foreach { case (m0, m1) =>
          tr.record("sinks.merge", eid, s"epoch${e.id}", m0, m1)
        }
      }
      val jdbc = CountingJdbc.snapshot()
      r.layers ++= Seq(
        "streaming.epochs" -> withData.size.toDouble,
        "streaming.trigger_s" -> eps.map(_.trigger).sum / 1000.0,
        "streaming.planning_s" -> eps.map(_.planning).sum / 1000.0,
        "streaming.add_batch_s" -> eps.map(_.addBatch).sum / 1000.0,
        "streaming.commit_s" -> eps.map(_.commit).sum / 1000.0,
        "streaming.state_rows" ->
          eps.map(_.stateRows).foldLeft(0L)(math.max).toDouble,
        "streaming.state_bytes" ->
          eps.map(_.stateBytes).foldLeft(0L)(math.max).toDouble,
        "streaming.rows_dropped_by_watermark" ->
          eps.map(_.droppedByWatermark).sum.toDouble,
        "streaming.duplicates_dropped" ->
          eps.map(_.duplicatesDropped).sum.toDouble,
        "streaming.backlog_files_max" ->
          perEpochFiles.foldLeft(0)(math.max).toDouble,
        "generator.late_s" -> lateS,
        "sinks.jdbc_statements" -> jdbc("statements").toDouble / n,
        "sinks.jdbc_s" -> jdbc("busy_ns") / 1e9,
        "sinks.jdbc_commits" -> jdbc("commits").toDouble,
        "sinks.jdbc_rollbacks" -> jdbc("rollbacks").toDouble)
    }
    r.op("stream/dump")(dumpCatalog(plain, s"$out/catalog", Seq("history")))
    dropDb("stream")
  }

  // ------------------------------------------------------------ queries

  /** One pass over the query list; each result is written to parquet.
    * Persistent RDDs a query leaves behind are counted, then released, as
    * graft.Bench does between queries. Returns per-query seconds. */
  def queryPass(spark: SparkSession, dir: String, out: String,
      queries: Seq[String],
      fns: Map[String, (SparkSession, String) => DataFrame], tr: Tracer,
      pass: Int, r: Result, left: mutable.Map[String, Long])
      : Seq[Double] = queries.map { name =>
    val t0 = System.nanoTime()
    r.op(s"pass$pass/$name") {
      tr.span(s"queries.$name", s"pass$pass") {
        val df = fns(name)(spark, dir)
        if (tr.enabled) tr.span("queries.plan", s"pass$pass") {
          df.queryExecution.executedPlan
        }
        df.write.mode("overwrite").parquet(s"$out/results/$name")
      }
    }
    val dt = secs(t0, System.nanoTime())
    val leftover = spark.sparkContext.getPersistentRDDs.size
    left(name) = left.getOrElse(name, 0L) + leftover
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
    dt
  }

  // --------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val in = a("inputs")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val localDir = s"$out/spark-local"
    val r = new Result
    val counters = new JobCounters
    CountingJdbc.register()

    // set-up: process launch to session ready, Derby booted, DDL applied
    var spark = session(s"local[$cores]", cores, localDir)
    createCatalog("jdbc:derby:memory:setup;create=true")
    val ready = java.time.Instant.now()
    r.add("setup_s", (ready.getEpochSecond * 1000000000L + ready.getNano -
      a("launch-ns").toLong) / 1e9)
    dropDb("setup")
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(counters)
    val s0 = spark
    val tr = new Tracer(traced, () => s0.sparkContext)
    r.info("conf") = Map(
      "master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores,
      "spark.sql.adaptive.enabled" -> true,
      "spark.sql.codegen.cache.maxEntries" -> 5000,
      "spark.sql.autoBroadcastJoinThreshold" -> 64L * 1024 * 1024,
      "Tables.residentMode" -> graft.Tables.residentMode,
      "derby" -> "in-memory (no disk flush)",
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))

    val tStart = System.nanoTime()
    def elapsed = secs(tStart, System.nanoTime())
    // jobs started inside a traced span carry its id as their group
    def inTrace(g: String): Boolean = tr.spans.exists(_.id.toString == g)
    workload match {
      case "ingest_batch" =>
        val sets = readUnarchiveSets(in)
        val ic = new IngestCounts
        val catalog = Some(s"$out/catalog")
        if (!traced) {
          r.add("first_pass_s", ingestPass(spark, in, 0, cold = true, tr,
            sets, r, ic, None))
          var n = 1
          while (n < 2 || elapsed < seconds) {
            r.add("ingest_s", ingestPass(spark, in, n, cold = false, tr, sets,
              r, ic, catalog))
            n += 1
          }
        } else {
          val off = new Tracer(false, () => s0.sparkContext)
          def wall(body: => Unit): Double = {
            val t0 = System.nanoTime(); body; secs(t0, System.nanoTime())
          }
          ingestPass(spark, in, 0, cold = true, off, sets, r, ic, None)
          // both timed passes dump the catalog, so their walls compare
          val untraced = wall(ingestPass(spark, in, 1, cold = false, off, sets,
            r, ic, catalog))
          Bus.drain(spark.sparkContext); counters.reset()
          val ic2 = new IngestCounts
          val jdbc0 = CountingJdbc.snapshot()
          val traced = wall(tr.span("workload", "pass2")(ingestPass(spark, in,
            2, cold = false, tr, sets, r, ic2, catalog)))
          Bus.drain(spark.sparkContext)
          val jdbc = CountingJdbc.snapshot().map { case (k, v) =>
            k -> (v - jdbc0(k)) }
          val cascade = tr.spans.filter(_.name == "operators.cascade")
            .map(_.id.toString).toSet
          r.layers ++= Seq(
            "sources.rows_in" -> ic2.rowsIn.toDouble,
            "sources.corrupt_rows" -> ic2.corrupt.toDouble,
            "pipelines.rows_out" -> ic2.rowsOut.toDouble,
            "operators.dedup_kept_ratio" ->
              ic2.deduped.toDouble / math.max(1L, ic2.rowsOut),
            "operators.fk_violations" -> ic2.fkViolations.toDouble,
            "sinks.jdbc_s" -> jdbc("busy_ns") / 1e9,
            "sinks.jdbc_statements" -> jdbc("statements").toDouble,
            "sinks.jdbc_commits" -> jdbc("commits").toDouble,
            "sinks.jdbc_rollbacks" -> jdbc("rollbacks").toDouble,
            "operators.cascade_jobs" ->
              counters.total(cascade)("jobs").toDouble,
            "operators.cascade_deleted_rows" -> ic2.deleted.toDouble,
            "trace.overhead_s" -> (traced - untraced))
          r.layers("spark.persistent_rdds_left") =
            spark.sparkContext.getPersistentRDDs.size.toDouble
          addSparkTotals(r, counters, inTrace)
          // single-thread baseline: the same warm pass in a local[1] session
          stopSession(spark)
          spark = session("local[1]", 1, localDir)
          r.layers("spark.speedup_1core") = wall(ingestPass(spark, in, 3,
            cold = false, off, sets, r, ic, None)) / untraced
        }
      case "ingest_stream" =>
        runStream(spark, in, out, tr, r)
        Bus.drain(spark.sparkContext)
        if (traced) {
          r.layers("spark.persistent_rdds_left") =
            spark.sparkContext.getPersistentRDDs.size.toDouble
          // the stream makes no extra calls when traced; its overhead is
          // the time the counting JDBC wrapper adds
          r.layers("trace.overhead_s") =
            CountingJdbc.snapshot()("overhead_ns") / 1e9
          addSparkTotals(r, counters, _ => true)
        }
      case "query_mix" =>
        val dir = s"$in/tables"
        val queries = a("queries").split(",").toSeq
        val fns = SparkEntry.queries
        val oracle = SparkEntry.oracleSql
        Files.writeString(Paths.get(out, "oracle.json"),
          new ObjectMapper().writeValueAsString(
            toJava(queries.map(q => q -> oracle.get(q).orNull).toMap)))
        val left = mutable.Map.empty[String, Long]
        val off = new Tracer(false, () => s0.sparkContext)
        def pass(n: Int, t: Tracer): Seq[Double] =
          queryPass(spark, dir, out, queries, fns, t, n, r, left)
        r.add("first_pass_s", pass(0, off).sum)
        if (!traced) {
          var n = 1
          while (n < 2 || elapsed < seconds) {
            r.add("warm_pass_s", pass(n, off).sum)
            n += 1
          }
          // latency: one query run again and again, each run one operation
          val lq = Seq(a("latency-query"))
          (0 until a("repeats").toInt).foreach { k =>
            r.add("latency_s",
              queryPass(spark, dir, out, lq, fns, off, n + k, r, left).head)
          }
        } else {
          val untraced = pass(1, off).sum
          Bus.drain(spark.sparkContext); counters.reset(); left.clear()
          val t0 = System.nanoTime()
          tr.span("workload", "pass2")(pass(2, tr))
          val traced = secs(t0, System.nanoTime())
          Bus.drain(spark.sparkContext)
          val byName = tr.spans.filter(_.name.startsWith("queries.q"))
            .map(s => s.name.stripPrefix("queries.") -> s.id.toString)
          byName.foreach { case (q, id) =>
            val c = counters.total(_ == id)
            r.layers(s"queries.$q.jobs") = c("jobs").toDouble
            r.layers(s"queries.$q.shuffle_bytes") = c("shuffle_write").toDouble
          }
          r.layers("Tables.scan_bytes") =
            counters.total(inTrace)("input_bytes").toDouble
          r.layers("spark.persistent_rdds_left") = left.values.sum.toDouble
          r.layers("trace.overhead_s") = traced - untraced
          addSparkTotals(r, counters, inTrace)
        }
        r.info("persistent_rdds_left_by_query") = left.toMap
    }
    r.add("peak_rss_mb", rssMb())
    val json = Map(
      "samples" -> r.samples, "layers" -> r.layers, "info" -> r.info,
      "attempted" -> r.attempted, "failed" -> r.failed, "errors" -> r.errors,
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    Files.writeString(Paths.get(out, "result.json"),
      new ObjectMapper().writeValueAsString(toJava(json)))
    stopSession(spark)
  }

  /** Spark totals over the job groups `groups` selects. */
  def addSparkTotals(r: Result, c: JobCounters,
      groups: String => Boolean): Unit = {
    val t = c.total(groups)
    r.layers ++= Seq(
      "spark.jobs" -> t("jobs").toDouble,
      "spark.stages" -> t("stages").toDouble,
      "spark.tasks" -> t("tasks").toDouble,
      "spark.task_cpu_s" -> t("cpu_ns") / 1e9,
      "spark.task_run_s" -> t("run_ms") / 1000.0,
      "spark.gc_s" -> t("gc_ms") / 1000.0,
      "spark.shuffle_write_bytes" -> t("shuffle_write").toDouble,
      "spark.spill_bytes" -> t("spill").toDouble)
  }
}

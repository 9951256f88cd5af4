package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/**
 * Incremental snowflake extract: filter the fact table past the watermark,
 * assemble nested documents, stamp batch coordinates + lineage, write
 * gzip NDJSON partitioned by batch key, then advance the watermark —
 * at-least-once, idempotent by key overwrite
 * (reference: mysql_to_s3/extract.py:92-254).
 *
 * The reference enumerates ids with a keyset-paginated driver loop and a
 * thread pool; Spark-natively one increment is one cached scan, one
 * aggregate and one write. The keyset-filtered fact rows, stamped with
 * their duration bucket, are cached; ONE per-bucket aggregate over the
 * cache (row count + last (time, id) key) gives the driver the row total,
 * the batch keys, the watermark and the indexing path; the write then
 * ranks the cached rows, assembles the docs around them and writes one
 * object per batch key. Batch coordinates reproduce the counter chain
 * ([[DurationCounter]]/[[BatchCounter]]) exactly: the duration bucket is
 * pure arithmetic; the in-bucket batch index is the 0-based (time, id)
 * rank over the bucket — a per-bucket window for modest increments, a
 * distributed prefix-sum rank ([[graft.ops.Batching.rankWithinScaled]])
 * above [[ExtractConfig.scaledIndexThreshold]] rows per bucket (identical
 * keys, no single-task bucket sort) — so a restart from the watermark
 * yields identical keys (the tests/test_counters.py replay contract).
 */
case class ExtractConfig(
    plan: SnowflakePlan,
    /** optional leading time dimension, e.g. ("o_orderdate", day) */
    timeField: Option[(String, DurationUnit)],
    idField: String,
    batchSize: Long,
    /** epoch start of the time axis (reference `extract.start`) */
    start: java.time.Instant,
    destination: String,
    lastFile: Path,
    revision: String = "dev",
    /** per-batch completion messages (reference extract.py:244-251) */
    notifier: Notifier = Notifier.noop,
    /** buckets larger than this switch batch indexing from the per-bucket
      * window (one task sorts the whole bucket) to the distributed
      * prefix-sum rank ([[graft.ops.Batching.rankWithinScaled]]) — at
      * 100 TB a production bucket is a full day of keys */
    scaledIndexThreshold: Long = 4000000L)

case class ExtractResult(rows: Long, batches: Long, watermark: Watermark)

case class Watermark(coords: Seq[Long], lastTime: Option[java.sql.Timestamp], lastId: Long)

object Extract {

  def run(spark: SparkSession, cfg: ExtractConfig, load: String => DataFrame): ExtractResult = {
    val prev = readWatermark(cfg.lastFile)
    val fact0 = load(cfg.plan.table)

    // 1. incremental filter — strictly-increasing (time, id) keyset from the
    //    watermark, pushed down to the scan (reference extract.py:156-183)
    val fact = prev match {
      case None => fact0
      case Some(w) =>
        cfg.timeField match {
          case Some((tf, _)) if w.lastTime.isDefined =>
            val t = w.lastTime.get
            // the explicit cast mirrors the watermark-record side (a DATE
            // axis records max(cast(tf as timestamp))), so both sides
            // interpret the value through the SAME session timezone.
            // INVARIANT: spark.sql.session.timeZone must not change
            // between the run that records a watermark and the run that
            // resumes from it (graft pins UTC everywhere) — a DATE is
            // tz-less, so its timestamp reading is tz-dependent.
            val tfTs = col(tf).cast("timestamp")
            // null-time rows PASS the keyset so the __dur null check
            // below fails them loudly — both comparison branches are
            // null on them, and a silent filter-out would mean a row
            // extracted by a first run (or never) vanishes from every
            // resumed increment with no error (review r9)
            fact0.filter(col(tf).isNull || tfTs > lit(t) ||
              (tfTs === lit(t) && col(cfg.idField) > lit(w.lastId)))
          case Some((tf, _)) =>
            // a time axis is configured but the watermark carries no
            // time: resuming on id alone would let rows land in duration
            // buckets EARLIER than already-written ones with batchBase 0,
            // and the dynamic-overwrite write would then DELETE earlier
            // increments' objects at those keys (review r9). This state
            // only arises from a config/watermark mismatch (the axis was
            // added after time-less runs) — refuse, loudly.
            throw new IllegalStateException(
              s"extract: watermark ${cfg.lastFile} has no lastTime but time axis " +
                s"'$tf' is configured — resuming would re-batch old buckets from 0 " +
                "and dynamic overwrite would delete earlier increments' objects; " +
                "re-extract from scratch or restore a watermark with lastTime")
          // time-less config: keyset on id alone (single bucket 0, whose
          // batch base resumes from the watermark coords)
          case None => fact0.filter(col(cfg.idField) > lit(w.lastId))
        }
    }

    // 2. batch coordinates: the duration bucket of every row, cached — the
    //    aggregate and the write both read this ONE materialization, so the
    //    source is scanned once and the watermark, the notifications and
    //    the written objects all describe the same rows. At 100 TB the
    //    increment is watermark-bounded: the standard bounded-working-set
    //    persist, and only the narrow fact rows (no docs) are held.
    val withDur = (cfg.timeField match {
      case Some((tf, unit)) =>
        val startFloor = unit.floor(cfg.start).getEpochSecond
        val durKey = unit match {
          case DurationUnit.Seconds(n) =>
            floor((col(tf).cast("double") - lit(startFloor)) / lit(n)).cast("long")
          case DurationUnit.Week =>
            val days = floor(col(tf).cast("double") / lit(86400L))
            floor((days + lit(4)) / lit(7)) - lit((Math.floorDiv(startFloor / 86400 + 4, 7L)))
          case DurationUnit.Month =>
            val zs = cfg.start.atZone(java.time.ZoneOffset.UTC)
            (year(col(tf)) * 12 + month(col(tf))) - lit(zs.getYear * 12 + zs.getMonthValue)
          case DurationUnit.Year =>
            year(col(tf)) - lit(cfg.start.atZone(java.time.ZoneOffset.UTC).getYear)
        }
        // a NULL on a configured time axis has no duration bucket, no
        // watermark coordinate and no resume semantics — fail LOUDLY at
        // scan time (first run or resumed), never silently drop or park
        // rows in a null partition the keyset can't re-find (review r9).
        // The check rides the existing expression: no extra scan.
        fact.withColumn("__dur",
          when(col(tf).isNotNull, durKey.cast("long"))
            .otherwise(raise_error(lit(
              s"extract: null time axis '$tf' — a watermark-driven extract " +
                "requires a non-null time column; clean or default it upstream"))
              .cast("long")))
      case None => fact.withColumn("__dur", lit(0L))
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // 3. ONE aggregate over the cache: per non-empty bucket, its row
      //    count and its last key in keyset order. The (time, id)
      //    watermark is the lexicographic max of the pair: independent
      //    maxima (max(time), max(id)) are WRONG whenever ids are not
      //    monotone with time — lastId then exceeds the largest id
      //    actually extracted AT lastTime, and the resume filter's
      //    `time = lastTime AND id > lastId` arm permanently skips the
      //    rows in between (r12, found by ExtractFuzzSpec's random resume
      //    schedules; the reference records the final row of the ordered
      //    batch, extract.py:254). Cast: a DATE time axis still records a
      //    Timestamp watermark. The collect holds one row per non-empty
      //    bucket — never more than the batch keys this run writes (and
      //    notifies), so the driver holds no more than the write's own
      //    inventory.
      val buckets = withDur.groupBy(col("__dur")).agg(count(lit(1)), max(struct(
        cfg.timeField.map(t => col(t._1).cast("timestamp"))
          .getOrElse(lit(null).cast("timestamp")).as("t"),
        col(cfg.idField).as("i"))))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getStruct(2))).sortBy(_._1).toSeq
      if (buckets.isEmpty) {
        // nothing to write → nothing notified, destination untouched, and
        // the watermark must NOT move (a time-less watermark would poison
        // the next keyset filter)
        ExtractResult(0L, 0L, prev.getOrElse(Watermark(Seq(0, 0), None, Long.MinValue)))
      } else {
        // batch indices RESUME within a duration bucket the previous run
        // already wrote to: new rows in the watermark's bucket start at
        // recorded-batch + 1, so this run's keys can never collide with —
        // and dynamic-overwrite can never delete — an earlier increment's
        // objects (the counter-replay contract of the reference's
        // BatchCounter, distributed). Other buckets start at 0; a
        // time-less config has the single bucket 0.
        val resume = prev.collect { case pw if pw.coords.size >= 2 => (pw.coords(0), pw.coords(1) + 1) }
        def base(d: Long): Long = resume.collect { case (rd, b) if rd == d => b }.getOrElse(0L)
        val batchKeys = buckets.flatMap { case (d, n, _) =>
          (0L until (n + cfg.batchSize - 1) / cfg.batchSize).map(b => (d, base(d) + b))
        }
        // the LAST WRITTEN KEY: the last bucket's last batch. The bucket is
        // monotone in time, so the last bucket also holds the (time, id)
        // watermark.
        val lastRow = buckets.last._3
        val wm = Watermark(Seq(batchKeys.last._1, batchKeys.last._2),
          Option(lastRow.get(0)).map(_.asInstanceOf[java.sql.Timestamp]), lastRow.getLong(1))

        // 4. in-bucket sequence number: per-bucket window up to the
        //    threshold (one shuffle, fine for modest increments),
        //    distributed prefix-sum rank above it (a window serializes each
        //    duration bucket through ONE task — a production bucket is a
        //    day; at 100 TB that is one executor sorting a day of keys).
        //    Both assign identical 0-based (time, id) ranks, so batch keys
        //    are byte-identical across the two paths (asserted in EtlSpec).
        val order = cfg.timeField.map(t => col(t._1)).toSeq :+ col(cfg.idField)
        val seqd =
          if (buckets.map(_._2).max > cfg.scaledIndexThreshold)
            graft.ops.Batching.rankWithinScaled(withDur, "__dur", order, out = "__seq")
          else {
            val w = Window.partitionBy(col("__dur")).orderBy(order: _*)
            withDur.withColumn("__seq", (row_number().over(w) - lit(1)).cast("long"))
          }
        val batchBase = resume.fold(lit(0L)) { case (rd, b) =>
          when(col("__dur") === lit(rd), lit(b)).otherwise(lit(0L))
        }
        val ranked = seqd.withColumn("__batch",
          (col("__seq") / lit(cfg.batchSize)).cast("long") + batchBase)

        // 5. assemble docs around the ranked fact rows + lineage envelope,
        //    partitioned gzip NDJSON write (reference extract.py:208-242:
        //    one S3 object per batch key). The coordinate columns ride
        //    through the assembly on the fact rows. `restrictChildren`:
        //    child tables are semi-joined down to the increment's keys
        //    BEFORE their collect_list — an increment touching 0.01% of
        //    parents must not re-aggregate 100% of children. DYNAMIC
        //    partition overwrite: an incremental run replaces only the
        //    batch keys it produced — earlier increments' objects stay,
        //    and re-running a failed increment overwrites its own keys
        //    idempotently (static mode would truncate the whole
        //    destination every run).
        val assembled = DocAssembler.assemble(cfg.plan,
          name => if (name == cfg.plan.table) ranked else load(name), restrictChildren = true)
        val coordCols = Set("__dur", "__seq", "__batch")
        val docCols = cfg.plan.key +:
          assembled.columns.filterNot(c => coordCols(c) || c == cfg.plan.key).toSeq
        val docs = assembled.select(
          struct(docCols.map(col): _*).as(cfg.plan.table),
          struct(
            col("__seq").as("id"),
            struct(lit(cfg.plan.table).as("table"),
              concat_ws(".", col("__dur"), col("__batch")).as("key")).as("source"),
            lit(cfg.revision).as("revision"),
            (unix_timestamp() * lit(1.0)).as("timestamp")).as("etl"),
          col("__dur").as("batch_t"), col("__batch").as("batch_i"))
        // hash-distribute by the batch key before the partitioned write
        // (r14, guide §6): without it every assembly task cuts an
        // object into every batch key it touches — the reference
        // contract is ONE object per batch key (extract.py:208-242),
        // and the fragmented layout also multiplied the read-back and
        // notification-side opens. One shuffle of the batch, exactly
        // the Iceberg write.distribution-mode=hash shape.
        docs.repartition(col("batch_t"), col("batch_i"))
          .write.mode("overwrite")
          .partitionBy("batch_t", "batch_i")
          .option("partitionOverwriteMode", "dynamic")
          .option("compression", "gzip")
          .json(cfg.destination)

        // notify per written batch object (reference extract.py:244-251),
        // then advance the watermark (extract.py:254)
        val now = java.time.Instant.now()
        for ((t, b) <- batchKeys)
          cfg.notifier.add(Notifier.batchMessage(cfg.destination, s"$t.$b", now))
        writeWatermark(cfg.lastFile, wm)
        ExtractResult(buckets.map(_._2).sum, batchKeys.size.toLong, wm)
      }
    } finally withDur.unpersist()
  }

  // -- watermark file: {"coords":[t,b], "lastTime":"...", "lastId":n} -------

  def readWatermark(p: Path): Option[Watermark] =
    if (!Files.exists(p)) None
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val j = JsonMethods.parse(Files.readString(p))
      implicit val fmt: Formats = DefaultFormats
      val coords = (j \ "coords").extract[Seq[Long]]
      val lastId = (j \ "lastId").extract[Long]
      val lastTime = (j \ "lastTime").extractOpt[String]
        .map(s => java.sql.Timestamp.from(java.time.Instant.parse(s)))
      Some(Watermark(coords, lastTime, lastId))
    }

  def writeWatermark(p: Path, w: Watermark): Unit = {
    val t = w.lastTime.map(ts => "\"" + ts.toInstant.toString + "\"").getOrElse("null")
    // atomic replace: a crash or a concurrent reader never sees a
    // truncated watermark
    graft.util.Fs.writeAtomically(p,
      s"""{"coords":[${w.coords.mkString(",")}],"lastTime":$t,"lastId":${w.lastId}}""")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Kafka, PushModes, TableServer}
import graft.ts.{Sinks, Sources, Tick, TickStream}

/** Round-4 adapter-surface closures: rotated parquet publish, the
  * snapshot+delta table server, Kafka replay-time adjustments, the batch
  * schedule_alarm lowering, and the per-batch LAST_VALUE shim. */
class AdapterSurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hours3 = Sources.curve(spark, "k", Seq(
    "2024-01-01 00:10:00" -> 1.0, "2024-01-01 00:50:00" -> 2.0,
    "2024-01-01 01:10:00" -> 3.0, "2024-01-01 02:59:00" -> 4.0))

  test("rotated parquet publish: one directory per rotation window, round-trip, file visitor") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rot").toString
    val visited = scala.collection.mutable.ArrayBuffer.empty[String]
    Sinks.writeParquetRotated(hours3, dir, rotatePeriodSec = 3600,
      fileVisitor = Some(p => visited.synchronized { visited += p }))
    val rotations = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("rotation=")).map(_.getName).sorted
    assert(rotations.toSeq == Seq("rotation=20240101_000000",
      "rotation=20240101_010000", "rotation=20240101_020000"))
    assert(visited.nonEmpty && visited.forall(_.endsWith(".parquet")))
    val back = spark.read.parquet(dir)
    assert(back.count() == 4)
    assert(back.filter(col("rotation") === "20240101_000000").count() == 2)
    // timestamps and values survive the rotation partitioning
    assert(back.agg(sum(col(Tick.VALUE))).head().getDouble(0) == 10.0)
  }

  test("streaming rotated parquet lands the batch publish's layout and reads back equal") {
    implicit val sq = spark.sqlContext
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (batchDir, streamDir, ckpt) = (tmp("graft_rot_b"), tmp("graft_rot_s"), tmp("graft_rot_c"))
    Sinks.writeParquetRotated(hours3, batchDir, rotatePeriodSec = 3600)
    val rows = hours3.df.as[(String, java.sql.Timestamp, Long, Double)].collect().toSeq
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    val ticks = mem.toDF().toDF(Tick.KEY, Tick.TS, Tick.SEQ, Tick.VALUE)
    val q = Sinks.streamParquetRotated(ticks, streamDir, ckpt, rotatePeriodSec = 3600).start()
    // two micro-batches, the 00:00 window's two ticks split across them
    try Seq(rows.take(1), rows.drop(1)).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    finally q.stop()
    def rotations(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("rotation=")).map(_.getName).sorted.toSeq
    assert(rotations(streamDir) == rotations(batchDir))
    def back(dir: String) = spark.read.parquet(dir)
      .select(Tick.KEY, Tick.TS, Tick.SEQ, Tick.VALUE, "rotation")
      .collect().map(_.toSeq).sortBy(_(2).asInstanceOf[Long]).toSeq
    assert(back(streamDir).size == 4 && back(streamDir) == back(batchDir))
  }

  test("printTicks shows the first n ticks in time order (csp.print)") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Sinks.printTicks(hours3, n = 2))
    val shown = out.toString("UTF-8")
    assert(shown.contains("2024-01-01 00:10:00") && shown.contains("2024-01-01 00:50:00"), shown)
    assert(!shown.contains("01:10:00") && shown.contains("only showing top 2 rows"), shown)
  }

  test("logTicks logs every tick under its tag, in time order within the key (csp.log)") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val tag = "graft.spec.logTicks"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("logTicksSpec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(tag).asInstanceOf[Logger]
    logger.addAppender(appender)
    logger.setLevel(Level.INFO)
    try Sinks.logTicks(hours3, tag)
    finally { logger.removeAppender(appender); appender.stop() }
    val logged = seen.toArray.map(_.toString).toSeq
    assert(logged.map(_.split(" \\| ").last.toDouble) == Seq(1.0, 2.0, 3.0, 4.0), logged)
    assert(logged.forall(_.startsWith("k | 2024-01-01 ")), logged)
  }

  test("bucketed tick store: co-located key joins run with NO shuffle exchange") {
    val ev = Sources.events(spark, TestSpark.sf).df.select("key", "ts", "seq", "value")
    val d1 = java.nio.file.Files.createTempDirectory("graft_bk1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_bk2").toString
    Sinks.writeBucketed(ev, "bk_left", d1, buckets = 4)
    Sinks.writeBucketed(ev.withColumnRenamed("value", "v2"), "bk_right", d2, buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bk_left").groupBy("key").count()
        .join(spark.table("bk_right").groupBy("key").count().withColumnRenamed("count", "c2"), "key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join/agg must not shuffle:\n${plan.take(800)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bk_left"); spark.sql("DROP TABLE IF EXISTS bk_right")
    }
  }

  test("table server: snapshot then deltas; delta_updates sends changed fields only") {
    val server = new TableServer(deltaUpdates = true)
    val t = server.createTable("px", index = Some("sym"))
    val early = scala.collection.mutable.ArrayBuffer.empty[String]
    t.subscribe(early += _) // before any data: no snap chunks
    assert(early.isEmpty)
    t.update(Map("sym" -> "A", "px" -> 1.0, "qty" -> 10L))
    t.update(Map("sym" -> "B", "px" -> 2.0, "qty" -> 20L))
    t.update(Map("sym" -> "A", "px" -> 1.5, "qty" -> 10L)) // only px changed
    // early subscriber: first update full (new index), third delta = px+sym only
    assert(early.length == 3)
    assert(early(0).contains("\"messageType\":\"update\"") && early(0).contains("\"qty\":10"))
    assert(early(2).contains("\"px\":1.5") && !early(2).contains("qty"),
      s"delta must carry only changed fields: ${early(2)}")
    // late subscriber: one snap chunk with the CURRENT two rows
    val late = scala.collection.mutable.ArrayBuffer.empty[String]
    t.subscribe(late += _)
    assert(late.length == 1 && late(0).contains("\"messageType\":\"snap\""))
    assert(late(0).contains("\"px\":1.5") && late(0).contains("\"sym\":\"B\""))
    assert(t.snapshot.map(_("sym")).toSet == Set("A", "B"))
  }

  test("perspective schema handshake: typed schema frame precedes snap and deltas (perspective.py:202-253)") {
    val server = new TableServer(deltaUpdates = true)
    // schema derived from a Spark schema through the publish rename map
    val sparkSchema = StructType(Seq(
      StructField("sym", StringType), StructField("px", DoubleType),
      StructField("qty", LongType), StructField("live", BooleanType),
      StructField("at", TimestampType)))
    val schema = TableServer.perspectiveSchema(sparkSchema,
      Map("sym" -> "sym", "px" -> "px", "qty" -> "qty", "live" -> "live", "at" -> "at"))
    assert(schema.toMap == Map("sym" -> "string", "px" -> "float",
      "qty" -> "integer", "live" -> "boolean", "at" -> "datetime"))
    // deterministic hello-frame field order: the StructType's, not the
    // rename Map's iteration order (HashMap ordering shifts at >4 entries)
    assert(schema.map(_._1) == Seq("sym", "px", "qty", "live", "at"))
    intercept[IllegalArgumentException] {
      TableServer.perspectiveSchema(sparkSchema, Map("nope" -> "nope"))
    }
    val t = server.createTable("px2", index = Some("sym"), schema = schema)
    // early subscriber (no data yet): schema frame alone, messageID 0
    val early = scala.collection.mutable.ArrayBuffer.empty[String]
    t.subscribe(early += _)
    assert(early.length == 1, s"schema hello must arrive before any data: $early")
    assert(early(0).contains("\"messageType\":\"schema\"") &&
      early(0).contains("\"messageID\":0") &&
      early(0).contains("\"index\":\"sym\"") &&
      early(0).contains("\"px\":\"float\"") && early(0).contains("\"qty\":\"integer\""))
    t.update(Map("sym" -> "A", "px" -> 1.0))
    // schema, then the delta — monotone messageIDs across frame kinds
    assert(early.length == 2 && early(1).contains("\"messageType\":\"update\"") &&
      early(1).contains("\"messageID\":1"))
    // late subscriber: schema THEN snap, in that order
    val late = scala.collection.mutable.ArrayBuffer.empty[String]
    t.subscribe(late += _)
    assert(late.length == 2)
    assert(late(0).contains("\"messageType\":\"schema\"") && late(0).contains("\"table\":\"px2\""))
    assert(late(1).contains("\"messageType\":\"snap\"") && late(1).contains("\"px\":1.0"))
    // schema-less tables keep the old framing (no hello frame)
    val bare = server.createTable("bare", index = Some("k"))
    val sub = scala.collection.mutable.ArrayBuffer.empty[String]
    bare.update(Map("k" -> "x", "v" -> 1.0))
    bare.subscribe(sub += _)
    assert(sub.length == 1 && sub(0).contains("\"messageType\":\"snap\""))
  }

  test("table server publishBatch applies a tick stream in engine-time order") {
    val server = new TableServer()
    val t = server.createTable("vals", index = Some("key"))
    server.publishBatch(t, hours3, Map(Tick.KEY -> "key", Tick.VALUE -> "v"))
    assert(t.snapshot == Seq(Map("key" -> "k", "v" -> 4.0))) // last tick wins per index
  }

  private def wire(rows: Seq[(String, String, Int, Long, String)]) =
    rows.toDF("k", "v", "partition", "offset", "t")
      .select(col("k").cast("binary").as("key"), col("v").cast("binary").as("value"),
        lit("trades").as("topic"), col("partition"), col("offset"),
        col("t").cast("timestamp").as("timestamp"), lit(0).as("timestampType"))

  test("Kafka adjust_out_of_order_time: replay time forced to running max per partition") {
    val raw = wire(Seq(
      ("u", "a", 0, 100L, "2024-01-01 00:00:05"),
      ("u", "b", 0, 101L, "2024-01-01 00:00:03"), // out of order → adjusted to 00:00:05
      ("u", "c", 0, 102L, "2024-01-01 00:00:09"),
      ("u", "d", 1, 50L, "2024-01-01 00:00:01"))) // other partition: own clock
    val ticks = Kafka.mapRaw(raw, Kafka.RawText, adjustOutOfOrderTime = true)
      .orderBy("seq").collect()
    val times = ticks.map(_.getAs[java.sql.Timestamp](Tick.TS).toString)
    assert(times.toSeq == Seq("2024-01-01 00:00:01.0", "2024-01-01 00:00:05.0",
      "2024-01-01 00:00:05.0", "2024-01-01 00:00:09.0"))
  }

  test("Kafka tick_timestamp_from_field + include_msg_before_start_time") {
    val schema = StructType(Seq(StructField("px", DoubleType), StructField("at", StringType)))
    val raw = wire(Seq(
      ("u", """{"px": 1.0, "at": "2024-01-01 00:00:01"}""", 0, 1L, "2024-01-01 09:00:00"),
      ("u", """{"px": 2.0, "at": "2024-01-01 00:00:07"}""", 0, 2L, "2024-01-01 09:00:00")))
    val ticks = Kafka.mapRaw(raw, Kafka.JsonMapper(schema),
      tickTimestampFromField = Some("at"),
      startTime = Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:05")),
      includeMsgBeforeStartTime = false).collect()
    assert(ticks.length == 1) // the 00:00:01 message predates the run
    assert(ticks.head.getAs[java.sql.Timestamp](Tick.TS).toString == "2024-01-01 00:00:07.0")
  }

  test("schedule_alarm batch lowering: data-dependent delay and payload merge into the timeline") {
    val src = Sources.curve(spark, "k", Seq(
      "2024-01-01 00:00:00" -> 2.0, "2024-01-01 00:00:10" -> 5.0))
    // alarm fires value*10 after `value` seconds — both data-dependent
    val alarms = src.scheduleAlarm(col(Tick.VALUE), col(Tick.VALUE) * 10,
      endTime = Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:14")))
    val merged = TickStream(src.df.unionByName(alarms.df)).resequence.df
      .orderBy(Tick.TS, Tick.SEQ)
      .select(unix_micros(col(Tick.TS)), col(Tick.VALUE)).collect()
      .map(r => (r.getLong(0) / 1000000 % 100, r.getDouble(1))).toSeq
    // t=0 src 2.0; t=2 alarm 20; t=10 src 5.0; (t=15 alarm dropped by endTime)
    assert(merged == Seq((0L, 2.0), (2L, 20.0), (10L, 5.0)))
  }

  test("cancel_alarm batch lowering (builtin_functions.py:356-361, test_engine.py:123-215)") {
    val src = Sources.curve(spark, "k", Seq(
      "2024-01-01 00:00:00" -> 2.0, "2024-01-01 00:00:10" -> 5.0))
    val alarms = src.scheduleAlarm(col(Tick.VALUE), col(Tick.VALUE) * 10,
      handleAs = Some("h"))
    // (1) cancel-at-schedule-time (test_alarm cancel=True): every handle
    // cancelled at the scheduling tick's own time -> NO alarm ever fires
    val all = TickStream(src.df
      .withColumn("h", struct(col(Tick.SEQ).as("s"),
        (unix_micros(col(Tick.TS)) + (col(Tick.VALUE) * 1e6).cast("long")).as("t"))))
    assert(alarms.cancelAlarms(TickStream(all.df), "h", "h").df.count() == 0)
    // (2) same-timestamp cancel is effective (test_engine.py:205-207):
    // zero-delay alarm cancelled by a tick at the SAME engine time
    val zero = src.scheduleAlarm(lit(0.0), col(Tick.VALUE), handleAs = Some("h"))
    val cancelFirst = TickStream(all.df
      .filter(col(Tick.SEQ) === 0)
      .withColumn("h", struct(col(Tick.SEQ).as("s"), unix_micros(col(Tick.TS)).as("t"))))
    val left = zero.cancelAlarms(cancelFirst, "h", "h").df.collect()
    assert(left.length == 1 && left(0).getAs[Double](Tick.VALUE) == 5.0)
    // (3) cancel AFTER the fire time is a stale handle — no-op
    val lateCancel = TickStream(all.df
      .filter(col(Tick.SEQ) === 0)
      .withColumn(Tick.TS, lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:09")))
      .withColumn("h", struct(col(Tick.SEQ).as("s"),
        (unix_micros(lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
          + lit(2000000L)).as("t"))))
    assert(alarms.cancelAlarms(lateCancel, "h", "h").df.count() == 2)
  }

  test("PushModes.lastValue collapses same-(key, ts) pushes within a batch") {
    val batch = Seq(
      ("k", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0L, 1.0, null: String),
      ("k", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 2.0, null: String),
      ("k", java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 2L, 3.0, null: String)
    ).toDF("key", "ts", "seq", "value", "text")
    val out = PushModes.lastValue(batch).orderBy("seq").collect()
    assert(out.map(_.getAs[Double]("value")).toSeq == Seq(2.0, 3.0))
    assert(PushModes.nonCollapsing(batch).count() == 3)
  }
}

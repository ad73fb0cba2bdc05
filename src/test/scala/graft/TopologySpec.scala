package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.{ModelPublisher, Serve, Topology}

/** The product front door: CLI argv → YAML topology → running queries,
  * plus the model-artifact loading seam and the event-time TopicSpec
  * fields (reference makinage.py:138-155, operator.py:26-73,
  * serve.py:22-28). */
class TopologySpec extends SparkSpec {
  import spark.implicits._

  test("Main.main runs a YAML topology end-to-end in batch mode " +
    "(makinage --config analogue)") {
    val tmp = Files.createTempDirectory("cli_batch").toString
    Seq("1", "2", "3").toDF("value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: values
         |    kind: parquet
         |    path: $tmp/in
         |  - name: out
         |    kind: parquet
         |    path: $tmp/out
         |operators:
         |  multiply:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [values]
         |    sinks: [out]
         |config:
         |  multiply: 5
         |  mode: batch
         |  output: $tmp/sinks
         |""".stripMargin
    val cfg = s"$tmp/app.yaml"
    Files.writeString(java.nio.file.Paths.get(cfg), yaml)
    Main.main(Array("--config", cfg)) // mode/output from YAML config
    val got = spark.read.parquet(s"$tmp/sinks/out")
      .select("value").as[String].collect().toSet
    assert(got == Set("5", "10", "15"))
  }

  test("Main CLI flags override YAML config; bad argv fails with usage") {
    val tmp = Files.createTempDirectory("cli_flags").toString
    Seq("4").toDF("value").write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: values
         |    kind: parquet
         |    path: $tmp/in
         |  - name: out
         |    kind: parquet
         |    path: $tmp/out
         |operators:
         |  multiply:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [values]
         |    sinks: [out]
         |config:
         |  multiply: 2
         |  mode: stream
         |""".stripMargin
    val cfg = s"$tmp/app.yaml"
    Files.writeString(java.nio.file.Paths.get(cfg), yaml)
    // --mode batch overrides the YAML's stream mode
    Main.main(Array("--config", cfg, "--mode", "batch",
      "--output", s"$tmp/sinks"))
    assert(spark.read.parquet(s"$tmp/sinks/out").count() == 1)
    intercept[IllegalArgumentException](Main.parseArgs(Array("--nope", "x")))
    intercept[IllegalArgumentException](Main.parseArgs(Array("--mode", "b")))
  }

  test("Main.run stream mode: YAML topology with watermarked event-time " +
    "topic drives a windowed agg to a memory sink") {
    val tmp = Files.createTempDirectory("cli_stream").toString
    Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), 9.0))
      .toDF("ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: events
         |    kind: parquet
         |    path: $tmp/in
         |    timestamp_col: ts
         |    watermark: 10 minutes
         |  - name: hourly
         |    kind: memory
         |operators:
         |  windowed:
         |    factory: graft.streaming.ops.WindowedSum
         |    sources: [events]
         |    sinks: [hourly]
         |config:
         |  window: 1 hour
         |  checkpoint: $tmp/ckpt
         |""".stripMargin
    val topo = Topology.parse(yaml)
    assert(topo.topics.head.timestampCol == "ts")
    assert(topo.topics.head.watermark == "10 minutes")
    val queries = Main.run(spark, topo, Map.empty) // stream is the default
    try {
      queries.foreach(_.processAllAvailable())
      // watermark passed hour 0 → its window finalized: n=2, sum=3.0
      val got = spark.table("hourly").select("n", "sum_value")
        .as[(Long, Double)].collect().toSet
      assert(got.contains((2L, 3.0)))
    } finally queries.foreach(_.stop())
  }

  test("start_from 'last' on a kafka STREAM source is a config error " +
    "(side-input contract), not a silent 'latest'") {
    val yaml =
      """topics:
        |  - name: models
        |    kind: kafka
        |    endpoint: broker:9092
        |    start_from: last
        |  - name: out
        |    kind: memory
        |operators:
        |  serve:
        |    factory: graft.streaming.ops.Multiply
        |    sources: [models]
        |    sinks: [out]
        |""".stripMargin
    val e = intercept[IllegalArgumentException](
      Topology.parse(yaml).runStream(spark, "/tmp/nope"))
    assert(e.getMessage.contains("latestRecord"))
  }

  test("latestRecord resolves the newest record of a file-backed model " +
    "topic declared in the topology") {
    val tmp = Files.createTempDirectory("latest").toString
    val f = java.nio.file.Paths.get(tmp, "m.bin")
    Files.write(f, Serve.encodeLinearModel(1, 0.0, 1.0))
    ModelPublisher.publishToPath(
      ModelPublisher.modelRow(spark, "m", 1L, f.toString), s"$tmp/topic")
    Files.write(f, Serve.encodeLinearModel(2, 0.5, 3.0))
    ModelPublisher.publishToPath(
      ModelPublisher.modelRow(spark, "m", 2L, f.toString), s"$tmp/topic")
    val yaml =
      s"""topics:
         |  - name: models
         |    kind: parquet
         |    path: $tmp/topic
         |    start_from: last
         |""".stripMargin
    val latest = Topology.parse(yaml).latestRecord(spark, "models")
    assert(latest.select("version").as[Long].collect().toSeq == Seq(2L))
  }

  test("latestRecord parity: a kafka-frame config topic and a file-backed " +
    "config topic hand callers the SAME config map (newest record wins " +
    "on both; transport metadata never leaks into the map)") {
    import org.apache.spark.sql.functions.{col, struct}
    val tmp = Files.createTempDirectory("latest_parity").toString
    // file-backed topic: two published versions, newest carries the keys
    Seq((1L, 3L)).toDF("version", "multiply")
      .withColumn("published_at",
        org.apache.spark.sql.functions.lit(
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .write.mode("append").parquet(s"$tmp/cfg")
    Seq((2L, 5L)).toDF("version", "multiply")
      .withColumn("published_at",
        org.apache.spark.sql.functions.lit(
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .write.mode("append").parquet(s"$tmp/cfg")
    val topo = Topology.parse(
      s"""topics:
         |  - name: cfg
         |    kind: parquet
         |    path: $tmp/cfg
         |    start_from: last
         |""".stripMargin)
    val fromFile = topo.latestRecord(spark, "cfg").collect()
      .map(Topology.configMap).head
    // kafka side: the SAME two records as json frames through the real
    // latestRecord kafka pipeline (newest-by-timestamp/offset + decode),
    // minus only the broker read (none in CI)
    val kTopic = Topology.parse(
      """topics:
        |  - name: kcfg
        |    kind: kafka
        |    endpoint: b:9092
        |    codec: json
        |    schema: "version BIGINT, multiply BIGINT"
        |""".stripMargin).topics.head
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val frame = Seq(
      ("""{"version": 1, "multiply": 3}""", 0L, ts("2024-01-01 00:00:00")),
      ("""{"version": 2, "multiply": 5}""", 1L, ts("2024-01-02 00:00:00")))
      .toDF("raw", "offset", "timestamp")
      .select(col("raw").cast("binary").as("value"), col("offset"),
        col("timestamp"),
        org.apache.spark.sql.functions.lit("kcfg").as("topic"),
        org.apache.spark.sql.functions.lit(0).as("partition"))
    val fromKafka = topo.latestFromKafkaFrame(frame, kTopic).collect()
      .map(Topology.configMap).head
    // both kinds resolve the NEWEST record and expose the same keys —
    // the operator-facing contract; the file row additionally carries
    // its publishing columns, which the kafka map must not contradict
    assert(fromKafka("version") == 2L && fromKafka("multiply") == 5L,
      fromKafka)
    assert(fromFile("version") == 2L && fromFile("multiply") == 5L,
      fromFile)
    assert(!fromKafka.contains("offset") && !fromKafka.contains("topic") &&
      !fromKafka.contains("timestamp") && !fromKafka.contains("partition"),
      fromKafka)
    val shared = fromKafka.keySet.intersect(fromFile.keySet)
    assert(shared == Set("version", "multiply") &&
      shared.forall(k => fromKafka(k) == fromFile(k)),
      s"kafka=$fromKafka file=$fromFile")
  }

  test("topic codecs apply to kafka frames: string and json decode at " +
    "the source shape, encode at the sink shape, round-trip") {
    import org.apache.spark.sql.functions.{col, struct}
    val stringTopic = Topology.parse(
      """topics:
        |  - name: t
        |    kind: kafka
        |    endpoint: b:9092
        |""".stripMargin).topics.head // codec defaults to string
    val jsonTopic = Topology.parse(
      """topics:
        |  - name: j
        |    kind: kafka
        |    endpoint: b:9092
        |    codec: json
        |    schema: "a BIGINT, b STRING"
        |""".stripMargin).topics.head
    // consumer side: kafka-shaped frame (binary value) → typed value
    val frame = Seq(("""{"a": 7, "b": "x"}""")).toDF("raw")
      .select(col("raw").cast("binary").as("value"))
    val decS = Topology.decodeFrame(frame, stringTopic)
      .select("value").as[String].collect().head
    assert(decS == """{"a": 7, "b": "x"}""")
    val decJ = Topology.decodeFrame(frame, jsonTopic)
      .select("value.a", "value.b").as[(Long, String)].collect().head
    assert(decJ == ((7L, "x")))
    // producer side: typed value → binary frame value; round-trips
    val typed = Seq((7L, "x")).toDF("a", "b")
      .select(struct(col("a"), col("b")).as("value"))
    val encoded = Topology.encodeFrame(typed, jsonTopic)
    assert(encoded.schema("value").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val back = Topology.decodeFrame(encoded, jsonTopic)
      .select("value.a", "value.b").as[(Long, String)].collect().head
    assert(back == ((7L, "x")))
  }

  test("golden artifact: loadModel decodes the committed binary fixture " +
    "(reference assets/zero_mlflow_pyfunc.zip + test_serve.py:81-83)") {
    val in = getClass.getResourceAsStream("/linear_model_v3.bin")
    val bytes = in.readAllBytes(); in.close()
    val m = Serve.loadModel(bytes)
    assert(m.version == 3L)
    assert(m.predict(Seq(1.0, 2.0)) == Seq(3.0, 5.0)) // 2x + 1
    intercept[IllegalArgumentException](
      Serve.loadModel("not a model artifact bytes!!!!!".getBytes))
  }

  test("publish → resolve latest → load → infer: the full model-topic " +
    "hot-swap round trip on artifact BYTES") {
    val tmp = Files.createTempDirectory("roundtrip").toString
    val f = java.nio.file.Paths.get(tmp, "m.bin")
    Files.write(f, Serve.encodeLinearModel(7, 10.0, 2.0))
    ModelPublisher.publishToPath(
      ModelPublisher.modelRow(spark, "m", 7L, f.toString), s"$tmp/topic")
    val content = ModelPublisher.latestFromPath(spark, s"$tmp/topic")
      .select("content").as[Array[Byte]].collect().head
    val model = Serve.loadModel(content)
    assert(model.version == 7L)
    val scored = Serve.inferBatch(Seq(1.0, 4.0).toDF("value"), model,
      Serve.ServeConfig(batchSize = 2))
    val preds = scored.select("prediction").as[Double].collect().toSet
    assert(preds == Set(12.0, 18.0)) // 2x + 10
  }

  test("partition_by on a parquet sink lands hive-style shards and " +
    "read-back gets partition pruning") {
    val tmp = Files.createTempDirectory("topo_part").toString
    Seq(("en", "src0", 1L), ("en", "src1", 2L), ("de", "src0", 3L))
      .toDF("lang", "source", "doc_id")
      .write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: docs
         |    kind: parquet
         |    path: $tmp/in
         |  - name: shards
         |    kind: parquet
         |    path: $tmp/shards
         |    partition_by: [lang]
         |    sink_partitions: 1
         |operators:
         |  gate:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [docs]
         |    sinks: [shards]
         |config:
         |  filter_expr: doc_id >= 0
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val dirs = new java.io.File(s"$tmp/sinks/shards").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("lang=en", "lang=de"), dirs)
    // sink_partitions: 1 -> small-files control: ONE part file per dir
    dirs.foreach { d =>
      val parts = new java.io.File(s"$tmp/sinks/shards/$d").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet"))
      assert(parts.length == 1, s"$d: ${parts.toSeq}")
    }
    val back = spark.read.parquet(s"$tmp/sinks/shards")
    assert(back.count() == 3)
    // pruning: the lang filter resolves at the directory level
    val plan = back.filter(col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("lang"), plan)
    assert(back.filter(col("lang") === "en").count() == 2)
  }

  test("parquet relay keeps the written schema: a partition_by string " +
    "column is not re-typed from its directory names") {
    val tmp = Files.createTempDirectory("topo_parttype").toString
    Seq(("01", 1L), ("02", 2L), ("010", 3L)).toDF("code", "v")
      .write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: codes
         |    kind: parquet
         |    path: $tmp/in
         |  - name: by_code
         |    kind: parquet
         |    partition_by: [code]
         |  - name: code_view
         |    kind: memory
         |operators:
         |  gate:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [codes]
         |    sinks: [by_code]
         |    config:
         |      filter_expr: v >= 0
         |  pass:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [by_code]
         |    sinks: [code_view]
         |    config:
         |      sql: SELECT code, v FROM by_code
         |      views: [by_code]
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val got = spark.table("code_view")
    assert(got.schema("code").dataType ==
      org.apache.spark.sql.types.StringType, got.schema)
    assert(got.as[(String, Long)].collect().toSet ==
      Set(("01", 1L), ("02", 2L), ("010", 3L)))
  }

  test("unpartitioned parquet relay: the downstream operator sees the " +
    "schema a plain read of the sink gives (names, types, nullability, " +
    "order)") {
    val tmp = Files.createTempDirectory("topo_relayschema").toString
    spark.sql(
      """SELECT id AS n, CAST(id AS INT) AS i, CAST(id AS DOUBLE) AS x,
        |  CAST(id AS DECIMAL(10, 2)) AS d, CAST(id AS STRING) AS str,
        |  named_struct('a', id, 'b', 'x') AS st, array(id, id) AS arr,
        |  map('k', id) AS m, TIMESTAMP'2024-01-01 00:00:00' AS ts,
        |  CAST(NULL AS STRING) AS nul
        |FROM range(3)""".stripMargin)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: wide
         |    kind: parquet
         |    path: $tmp/in
         |  - name: wide_mid
         |    kind: parquet
         |  - name: wide_view
         |    kind: memory
         |operators:
         |  gate:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [wide]
         |    sinks: [wide_mid]
         |    config:
         |      filter_expr: n >= 0
         |  pass:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [wide_mid]
         |    sinks: [wide_view]
         |    config:
         |      sql: SELECT * FROM wide_mid
         |      views: [wide_mid]
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val seen = spark.table("wide_view").schema
    val plain = spark.read.parquet(s"$tmp/sinks/wide_mid").schema
    assert(seen == plain, s"\n$seen\n$plain")
    assert(spark.table("wide_view").count() == 3)
  }

  test("runBatch reads no terminal sink back: a one-source/one-sink " +
    "chain with no shuffle runs 2 jobs (source schema, write)") {
    val tmp = Files.createTempDirectory("topo_jobs").toString
    Seq(1L, 2L, 3L).toDF("v").write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: nums
         |    kind: parquet
         |    path: $tmp/in
         |  - name: kept
         |    kind: parquet
         |operators:
         |  gate:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [nums]
         |    sinks: [kept]
         |    config:
         |      filter_expr: v > 1
         |""".stripMargin
    val topo = Topology.parse(yaml)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      topo.runBatch(spark, s"$tmp/sinks")
      org.apache.spark.graftbridge.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 2, s"${jobs.get} jobs")
    assert(spark.read.parquet(s"$tmp/sinks/kept").as[Long].collect()
      .sorted.toSeq == Seq(2L, 3L))
  }

  test("ingest-gate chain wired from YAML: decontamination gate then " +
    "NB quality gate, each a topology operator (frozen-model configs " +
    "ride the config block)") {
    val tmp = Files.createTempDirectory("gate_chain").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contaminated
      (2L, "wiki wiki facts today"), // clean + reference-like
      (3L, "spam spam spam junk")) // clean + spammy
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/in")
    Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$tmp/bench")
    Seq((200L, "wiki wiki facts today")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/ref")
    Seq((2L, "wiki wiki facts today"), (3L, "spam spam spam junk"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$tmp/corpus")
    val yaml1 =
      s"""topics:
         |  - name: docs
         |    kind: parquet
         |    path: $tmp/in
         |  - name: decontaminated
         |    kind: parquet
         |    path: $tmp/mid
         |operators:
         |  cgate:
         |    factory: graft.streaming.ops.ContaminationGateOp
         |    sources: [docs]
         |    sinks: [decontaminated]
         |config:
         |  bench_path: $tmp/bench
         |  min_shared: 2
         |  mode: batch
         |  output: $tmp/sinks1
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$tmp/a.yaml"), yaml1)
    Main.main(Array("--config", s"$tmp/a.yaml"))
    val mid = spark.read.parquet(s"$tmp/sinks1/decontaminated")
    assert(mid.select("doc_id").as[Long].collect().toSet == Set(2L, 3L))
    val yaml2 =
      s"""topics:
         |  - name: decontaminated
         |    kind: parquet
         |    path: $tmp/sinks1/decontaminated
         |  - name: quality
         |    kind: parquet
         |    path: $tmp/out
         |operators:
         |  nbgate:
         |    factory: graft.streaming.ops.NbGateOp
         |    sources: [decontaminated]
         |    sinks: [quality]
         |config:
         |  ref_path: $tmp/ref
         |  corpus_path: $tmp/corpus
         |  min_score: 1.0
         |  mode: batch
         |  output: $tmp/sinks2
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$tmp/b.yaml"), yaml2)
    Main.main(Array("--config", s"$tmp/b.yaml"))
    val out = spark.read.parquet(s"$tmp/sinks2/quality")
    // doc 1 fell to the contamination gate, doc 3 to the quality gate
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    val score = out.select("nb_score").as[Double].collect().head
    assert(score > 1.0)
  }

  test("zorder_by sink layout: every part file covers a compact " +
    "hyper-rectangle of BOTH interleaved columns") {
    val tmp = Files.createTempDirectory("topo_zorder").toString
    spark.range(1024)
      .select((col("id") % 32).cast("double").as("x"),
        (col("id") / 32).cast("long").as("y"),
        col("id").as("event_id"))
      .write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: events
         |    kind: parquet
         |    path: $tmp/in
         |  - name: laid
         |    kind: parquet
         |    path: $tmp/out
         |    zorder_by: [x, y]
         |    zorder_bits: 5
         |    sink_partitions: 16
         |operators:
         |  pass:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [events]
         |    sinks: [laid]
         |config:
         |  filter_expr: event_id >= 0
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val parts = new java.io.File(s"$tmp/sinks/laid").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(parts.length == 16, parts.length)
    // per-FILE spans: each part file reads back with bounded x AND y
    // ranges (the single-column sort would leave y spanning 0..31)
    val spans = parts.map { p =>
      val f = spark.read.parquet(s"$tmp/sinks/laid/$p")
        .agg(min("x"), max("x"), min("y"), max("y")).head()
      (f.getDouble(1) - f.getDouble(0), f.getLong(3) - f.getLong(2))
    }
    val avgX = spans.map(_._1).sum / spans.length
    val avgY = spans.map(_._2).sum.toDouble / spans.length
    assert(avgX <= 16.0 && avgY <= 16.0, s"spans ($avgX, $avgY)")
    assert(spark.read.parquet(s"$tmp/sinks/laid").count() == 1024)
  }

  test("zorder_by on a STATIC streaming sink refuses loudly") {
    val tmp = Files.createTempDirectory("topo_zorder_stream").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("event_id", "ts", "x")
      .write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: events
         |    kind: parquet
         |    path: $tmp/in
         |    timestamp_col: ts
         |    watermark: 10 minutes
         |  - name: laid
         |    kind: parquet
         |    path: $tmp/out
         |    zorder_by: [x]
         |operators:
         |  pass:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [events]
         |    sinks: [laid]
         |config:
         |  filter_expr: event_id >= 0
         |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      Topology.parse(yaml).runStream(spark, s"$tmp/ckpt")
        .foreach(_.processAllAvailable())
    }
    assert(e.getMessage.contains("zorder_by"), e.getMessage)
  }

  test("SqlOp runs YAML-declared SQL over source topics as views: " +
    "single-source aggregate and a two-source join") {
    val tmp = Files.createTempDirectory("topo_sql").toString
    Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$tmp/in")
    Seq(("a", "alpha"), ("b", "beta")).toDF("k", "name")
      .write.mode("overwrite").parquet(s"$tmp/dim")
    val yaml =
      s"""topics:
         |  - name: rows
         |    kind: parquet
         |    path: $tmp/in
         |  - name: dim
         |    kind: parquet
         |    path: $tmp/dim
         |  - name: agg
         |    kind: parquet
         |    path: $tmp/agg
         |operators:
         |  rollup:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [rows, dim]
         |    sinks: [agg]
         |config:
         |  views: [r, d]
         |  sql: >
         |    SELECT d.name, sum(r.v) AS total
         |    FROM r JOIN d ON r.k = d.k GROUP BY d.name
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val got = spark.read.parquet(s"$tmp/sinks/agg")
      .as[(String, Long)].collect().toMap
    assert(got == Map("alpha" -> 3L, "beta" -> 5L))
    // missing sql refused; view/source count mismatch refused
    intercept[IllegalArgumentException] {
      graft.streaming.ops.SqlOp(Map.empty, Seq(spark.range(1).toDF()))
    }
    intercept[IllegalArgumentException] {
      graft.streaming.ops.SqlOp(Map("sql" -> "SELECT 1",
        "views" -> Seq("a", "b")), Seq(spark.range(1).toDF()))
    }
  }

  test("json topics: a JSONL source chains through an operator into a " +
    "JSONL sink in batch mode; quoting/escaping survives the hop; " +
    "schemaless json reads and zorder_by on json sinks refuse loudly") {
    val tmp = Files.createTempDirectory("topo_json").toString
    // text carries quotes, commas, backslashes — the JSONL escape surface
    val rows = Seq((1L, """he said "hi", then \left"""),
      (2L, "plain"), (3L, """tab\there, "q" and, commas"""))
    rows.toDF("id", "text").write.mode("overwrite").json(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: docs
         |    kind: json
         |    path: $tmp/in
         |    schema: "id BIGINT, text STRING"
         |  - name: kept
         |    kind: json
         |    sink_partitions: 1
         |operators:
         |  keep:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [docs]
         |    sinks: [kept]
         |    config:
         |      views: [d]
         |      sql: SELECT id, text FROM d WHERE id <= 2
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val got = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, text STRING"))
      .json(s"$tmp/sinks/kept").as[(Long, String)].collect().toSet
    assert(got == rows.filter(_._1 <= 2).toSet)
    // a json topic without a declared schema refuses at read time
    // (inference is a full extra data pass, sample-dependent)
    val noSchema = Topology.parse(
      s"""topics:
         |  - name: docs
         |    kind: json
         |    path: $tmp/in
         |  - name: out
         |    kind: parquet
         |operators:
         |  keep:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [docs]
         |    sinks: [out]
         |    config: {views: [d], sql: SELECT * FROM d}
         |""".stripMargin)
    val e1 = intercept[IllegalArgumentException] {
      noSchema.runBatch(spark, s"$tmp/sinks_noschema")
    }
    assert(e1.getMessage.contains("schema"))
    // zorder_by on a json sink refuses: JSON scans carry no min/max
    // stats, the layout could never prune
    val zj = Topology.parse(
      s"""topics:
         |  - name: docs
         |    kind: json
         |    path: $tmp/in
         |    schema: "id BIGINT, text STRING"
         |  - name: out
         |    kind: json
         |    zorder_by: [id]
         |operators:
         |  keep:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [docs]
         |    sinks: [out]
         |    config: {views: [d], sql: SELECT * FROM d}
         |""".stripMargin)
    val e2 = intercept[IllegalArgumentException] {
      zj.runBatch(spark, s"$tmp/sinks_zj")
    }
    assert(e2.getMessage.contains("min/max"))
  }

  test("json sink relay preserves MICROSECOND event time through the " +
    "durable handoff (parquet parity — the default json timestampFormat " +
    "would truncate to millis)") {
    val tmp = Files.createTempDirectory("topo_json_ts").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:07.179575")
    graft.sources.Sources.writeJsonLines(
      Seq((1L, ts)).toDF("id", "ts"), s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: evs
         |    kind: json
         |    path: $tmp/in
         |    schema: "id BIGINT, ts TIMESTAMP"
         |  - name: out
         |    kind: json
         |    sink_partitions: 1
         |operators:
         |  pass:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [evs]
         |    sinks: [out]
         |    config:
         |      views: [e]
         |      sql: SELECT id, ts FROM e
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val got = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, ts TIMESTAMP"))
      .json(s"$tmp/sinks/out")
      .as[(Long, java.sql.Timestamp)].collect().toSeq
    assert(got == Seq((1L, ts)))
  }

  test("compression: a gzip json sink lands .gz JSONL shards the json " +
    "source reads back transparently (jsonl.gz, the crawl-dump shape)") {
    val tmp = Files.createTempDirectory("topo_gz").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .write.mode("overwrite").json(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: rows
         |    kind: json
         |    path: $tmp/in
         |    schema: "id BIGINT, k STRING"
         |  - name: out
         |    kind: json
         |    sink_partitions: 1
         |    compression: gzip
         |operators:
         |  pass:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [rows]
         |    sinks: [out]
         |    config:
         |      views: [r]
         |      sql: SELECT id, k FROM r
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val shards = new java.io.File(s"$tmp/sinks/out").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(shards.nonEmpty && shards.forall(_.getName.endsWith(".gz")))
    val got = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, k STRING"))
      .json(s"$tmp/sinks/out").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b")))
  }

  test("json topics STREAM: an unbounded JSONL source (declared schema, " +
    "max_per_trigger) drives an operator into a streaming JSONL sink") {
    val tmp = Files.createTempDirectory("topo_json_stream").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "k").repartition(2)
      .write.mode("overwrite").json(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: evs
         |    kind: json
         |    path: $tmp/in
         |    schema: "id BIGINT, k STRING"
         |    max_per_trigger: 1
         |  - name: odd
         |    kind: json
         |    path: $tmp/out
         |    sink_partitions: 1
         |operators:
         |  keep:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [evs]
         |    sinks: [odd]
         |    config:
         |      views: [e]
         |      sql: SELECT id, k FROM e WHERE id % 2 = 1
         |""".stripMargin
    val qs = Topology.parse(yaml).runStream(spark, s"$tmp/ckpt")
    try {
      qs.foreach(_.processAllAvailable())
      val got = spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, k STRING"))
        .json(s"$tmp/out").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "a"), (3L, "c")))
    } finally qs.foreach(_.stop())
  }

  test("SqlOp composes with a STREAMING source: the SQL view is a " +
    "streaming frame and the result streams") {
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val out = graft.streaming.ops.SqlOp(Map(
      "views" -> Seq("sev"),
      "sql" -> "SELECT k, v * 10 AS v10 FROM sev WHERE v % 2 = 1"),
      Seq(in.toDF().toDF("k", "v"))).head
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("sqlop_out")
      .outputMode("append").start()
    try {
      in.addData(("a", 1L), ("a", 2L), ("b", 3L))
      q.processAllAvailable()
      val got = spark.table("sqlop_out").as[(String, Long)]
        .collect().toSet
      assert(got == Set(("a", 10L), ("b", 30L)))
    } finally q.stop()
  }

  test("two-source join factories wire from YAML: TemporalJoinOp and " +
    "JoinOp each read a pair of parquet topics in batch mode") {
    val tmp = Files.createTempDirectory("topo_joins").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-01 00:02:00")
    val t3 = java.sql.Timestamp.valueOf("2026-01-01 00:03:00")
    Seq(("a", t3, 1L), ("b", t3, 2L)).toDF("k", "ts", "id")
      .write.mode("overwrite").parquet(s"$tmp/lefts")
    Seq(("a", t0, "v1", 1L), ("a", t2, "v2", 2L))
      .toDF("k", "ts", "v", "tie")
      .write.mode("overwrite").parquet(s"$tmp/rights")
    val yaml =
      s"""topics:
         |  - name: lefts
         |    kind: parquet
         |    path: $tmp/lefts
         |  - name: rights
         |    kind: parquet
         |    path: $tmp/rights
         |  - name: enriched
         |    kind: parquet
         |    path: $tmp/enriched
         |  - name: paired
         |    kind: parquet
         |    path: $tmp/paired
         |operators:
         |  asof:
         |    factory: graft.streaming.ops.TemporalJoinOp
         |    sources: [lefts, rights]
         |    sinks: [enriched]
         |  band:
         |    factory: graft.streaming.ops.JoinOp
         |    sources: [lefts, rights]
         |    sinks: [paired]
         |config:
         |  key_col: k
         |  timestamp_col: ts
         |  id_col: id
         |  value_col: v
         |  tie_col: tie
         |  time_bound: 1 minutes
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val asof = spark.read.parquet(s"$tmp/sinks/enriched")
      .select("id", "r_value").as[(Long, Option[String])]
      .collect().toMap
    assert(asof == Map(1L -> Some("v2"), 2L -> None))
    val band = spark.read.parquet(s"$tmp/sinks/paired")
      .select("k", "id", "r_v").as[(String, Long, String)]
      .collect().toSet
    assert(band == Set(("a", 1L, "v2"))) // only a@3 ↔ v2@2 within 1 min
  }

  test("round-7 lifecycle factories wire from YAML: DomainCapOp " +
    "admission + ScdOp intervals in one topology, batch mode") {
    val tmp = Files.createTempDirectory("r7_ops").toString
    def ts(m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    Seq(
      (1L, ts(0), "https://www.a.com/1"),
      (2L, ts(1), "https://a.com/2"),
      (3L, ts(2), "https://a.com/3"), // over budget at k=2
      (4L, ts(0), "https://b.com/4"))
      .toDF("doc_id", "ts", "url")
      .write.mode("overwrite").parquet(s"$tmp/docs")
    Seq(
      (7L, ts(0), 1L, "A"), (7L, ts(5), 2L, "B"), (7L, ts(9), 3L, "B"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .write.mode("overwrite").parquet(s"$tmp/changes")
    val yaml =
      s"""topics:
         |  - name: docs
         |    kind: parquet
         |    path: $tmp/docs
         |  - name: changes
         |    kind: parquet
         |    path: $tmp/changes
         |  - name: admitted
         |    kind: parquet
         |    path: $tmp/admitted
         |  - name: intervals
         |    kind: parquet
         |    path: $tmp/intervals
         |operators:
         |  cap:
         |    factory: graft.streaming.ops.DomainCapOp
         |    sources: [docs]
         |    sinks: [admitted]
         |  scd:
         |    factory: graft.streaming.ops.ScdOp
         |    sources: [changes]
         |    sinks: [intervals]
         |config:
         |  k: 2
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val admitted = spark.read.parquet(s"$tmp/sinks/admitted")
      .select("domain", "doc_id").as[(String, Long)].collect()
      .sorted.toSeq
    assert(admitted == Seq(("a.com", 1L), ("a.com", 2L),
      ("b.com", 4L)), admitted)
    val iv = spark.read.parquet(s"$tmp/sinks/intervals")
      .select("state", "is_current", "n_events")
      .as[(String, Boolean, Long)].collect().sortBy(_._1).toSeq
    assert(iv == Seq(("A", false, 1L), ("B", true, 2L)), iv)
  }

  test("topology DAG depth 5: crawl cap -> join -> gopher gate -> dedup " +
    "-> rollup chained through intra-run topics matches the oracled " +
    "q_pipeline_crawl result stage for stage") {
    val tmp = Files.createTempDirectory("topo_dag").toString
    val sfDir = "/root/testdata/sf0.001"
    // the crawl frontier: documents + their (synthetic) URLs — the same
    // frame q_pipeline_crawl starts from
    graft.core.Tables.table(spark, sfDir, "documents")
      .withColumn("url", queries.UrlCuration.synthUrl)
      .write.mode("overwrite").parquet(s"$tmp/frontier")
    val yaml =
      s"""topics:
         |  - name: frontier
         |    kind: parquet
         |    path: $tmp/frontier
         |  - name: capped
         |    kind: parquet
         |  - name: withtext
         |    kind: parquet
         |  - name: gated
         |    kind: parquet
         |  - name: deduped
         |    kind: parquet
         |  - name: domain_rollup
         |    kind: parquet
         |operators:
         |  cap:
         |    factory: graft.streaming.ops.DomainCapOp
         |    sources: [frontier]
         |    sinks: [capped]
         |    config:
         |      k: 30
         |      quality_col: n_chars
         |  jointext:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [capped, frontier]
         |    sinks: [withtext]
         |    config:
         |      sql: >-
         |        SELECT c.doc_id, c.domain, d.text
         |        FROM capped c JOIN frontier d USING (doc_id)
         |      views: [capped, frontier]
         |  gate:
         |    factory: graft.streaming.ops.GopherGateOp
         |    sources: [withtext]
         |    sinks: [gated]
         |    config:
         |      n_tokens_col: n_tokens
         |  dedup:
         |    factory: graft.streaming.ops.DedupOp
         |    sources: [gated]
         |    sinks: [deduped]
         |  rollup:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [deduped]
         |    sinks: [domain_rollup]
         |    config:
         |      sql: >-
         |        SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |        FROM deduped GROUP BY domain
         |      views: [deduped]
         |""".stripMargin
    val topo = Topology.parse(yaml)
    topo.runBatch(spark, s"$tmp/sinks")
    val got = spark.read.parquet(s"$tmp/sinks/domain_rollup")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val want = SparkEntry.queries("q_pipeline_crawl")(spark, sfDir)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want, s"got=$got want=$want")
    assert(want.nonEmpty)
    // every intermediate topic also materialized under the out dir
    Seq("capped", "withtext", "gated", "deduped").foreach { n =>
      assert(spark.read.parquet(s"$tmp/sinks/$n").count() > 0, n)
    }
  }

  test("kafka TopicSpec round-trips every reference topic option " +
    "(docs/kafka.md contract: name/endpoint/codec/start_from/" +
    "partition_selector/timestamp_col/watermark/schema)") {
    // the docs/kafka.md sample, verbatim in structure — if parse drops
    // or renames an option, this breaks before a broker ever would
    val yaml =
      """topics:
        |  - name: values
        |    kind: kafka
        |    endpoint: "broker-1:9092"
        |    codec: string
        |    start_from: beginning
        |  - name: multiplied_values
        |    kind: kafka
        |    endpoint: "broker-1:9092"
        |    codec: json
        |    schema: "value DOUBLE, user_id BIGINT"
        |    partition_selector: user_id
        |    timestamp_col: ts
        |    watermark: 10 minutes
        |  - name: model
        |    kind: kafka
        |    endpoint: "broker-1:9092"
        |    codec: none
        |    start_from: last
        |    max_per_trigger: 5000
        |operators:
        |  multiply:
        |    factory: graft.streaming.ops.Multiply
        |    sources: [values]
        |    sinks: [multiplied_values]
        |    config:
        |      multiply: 3
        |""".stripMargin
    val topo = Topology.parse(yaml)
    val byName = topo.topics.map(t => t.name -> t).toMap
    val v = byName("values")
    assert(v.kind == "kafka" && v.endpoint == "broker-1:9092" &&
      v.codec == "string" && v.startFrom == "beginning")
    val m = byName("multiplied_values")
    assert(m.codec == "json" &&
      m.schema == "value DOUBLE, user_id BIGINT" &&
      m.partitionSelector == "user_id" &&
      m.timestampCol == "ts" && m.watermark == "10 minutes")
    val mo = byName("model")
    assert(mo.codec == "none" && mo.startFrom == "last" &&
      mo.maxPerTrigger == 5000L)
    // defaults (reference operator.py:40-53): codec string, start_from end
    assert(m.startFrom == "end")
    // the codec objects themselves resolve for every declared codec
    Seq("values", "multiplied_values", "model").foreach { n =>
      assert(Topology.codecOf(byName(n)) != null, n)
    }
    // start_from: last is the side-input contract — a kafka STREAM
    // source must refuse it loudly (docs/kafka.md), not degrade
    val op = topo.operators.head
    assert(op.config("multiply") == 3)
  }

  test("config redirect (identity_or_redirect analogue): a file-connector " +
    "redirect loads the real config; consul refuses loudly") {
    val tmp = Files.createTempDirectory("cfg_redirect").toString
    val real = s"$tmp/real.yaml"
    Files.writeString(java.nio.file.Paths.get(real),
      "topics:\n  - name: t\n    kind: memory\n")
    val redirected = Main.resolveConfigText(
      s"""redirect:
         |  connector: file
         |  path: $real
         |""".stripMargin)
    assert(Topology.parse(redirected).topics.head.name == "t")
    // identity: no redirect block → text unchanged
    val plain = "topics:\n  - name: u\n    kind: memory\n"
    assert(Main.resolveConfigText(plain) == plain)
    val e = intercept[IllegalArgumentException](Main.resolveConfigText(
      "redirect:\n  connector: consul\n  endpoint: http://x\n  key: k\n"))
    assert(e.getMessage.contains("consul"), e.getMessage)
    // a redirect must be the ONLY top-level key: real topics beside it
    // would be silently discarded (half-migrated config)
    val e2 = intercept[IllegalArgumentException](Main.resolveConfigText(
      s"""redirect:
         |  connector: file
         |  path: $real
         |topics:
         |  - name: shadowed
         |    kind: memory
         |""".stripMargin))
    assert(e2.getMessage.contains("no other top-level keys"),
      e2.getMessage)
    // one indirection level only: a redirect target that itself
    // redirects refuses with a clear message
    val hop = s"$tmp/hop.yaml"
    Files.writeString(java.nio.file.Paths.get(hop),
      s"redirect:\n  connector: file\n  path: $real\n")
    val e3 = intercept[IllegalArgumentException](Main.resolveConfigText(
      s"redirect:\n  connector: file\n  path: $hop\n"))
    assert(e3.getMessage.contains("nested redirect"), e3.getMessage)
  }

  test("GraftSession derives shuffle partitions from a local master " +
    "and leaves cluster masters for the deployment to set") {
    import graft.core.GraftSession.derivePartitions
    assert(derivePartitions("local[7]", 0) == 7)
    assert(derivePartitions("local[*]", 0) ==
      Runtime.getRuntime.availableProcessors())
    assert(derivePartitions("spark://host:7077", 0) == 0)
    assert(derivePartitions("", 0) == 0)
    assert(derivePartitions("local[7]", 48) == 48) // explicit wins
  }

  test("operator config precedence: op-local config overrides the " +
    "global block, and a config_topic record overrides both") {
    val tmp = Files.createTempDirectory("topo_conf").toString
    Seq(1L, 2L).toDF("value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    // op-local multiply: 5 must beat global multiply: 3
    val yaml =
      s"""topics:
         |  - name: in
         |    kind: parquet
         |    path: $tmp/in
         |  - name: out
         |    kind: parquet
         |operators:
         |  mul:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [in]
         |    sinks: [out]
         |    config:
         |      multiply: 5
         |config:
         |  multiply: 3
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val got = spark.read.parquet(s"$tmp/sinks/out")
      .select("value").as[String].collect().map(_.toLong).sorted.toSeq
    assert(got == Seq(5L, 10L), got)
    // dynamic layer: a config-topic record wins over BOTH
    Seq((1L, 7)).toDF("version", "multiply")
      .withColumn("published_at", current_timestamp())
      .write.mode("overwrite").parquet(s"$tmp/conf")
    val yaml2 = yaml.replace("      multiply: 5",
      "      multiply: 5\n    config_topic: conf")
      .replace("topics:",
        s"topics:\n  - name: conf\n    kind: parquet\n    path: $tmp/conf")
    Topology.parse(yaml2).runBatch(spark, s"$tmp/sinks2")
    val got2 = spark.read.parquet(s"$tmp/sinks2/out")
      .select("value").as[String].collect().map(_.toLong).sorted.toSeq
    assert(got2 == Seq(7L, 14L), got2)
  }

  test("batch memory relay: a kind-memory intermediate chains the PLAN " +
    "(no write, no read-back), equals the durable-relay result, and a " +
    "memory sink registers as an inspectable temp view") {
    val tmp = Files.createTempDirectory("topo_memrelay").toString
    Seq(1.0, 2.0, 3.0).toDF("value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    def yaml(midKind: String, sfx: String) =
      s"""topics:
         |  - name: raw
         |    kind: parquet
         |    path: $tmp/in
         |  - name: mid$sfx
         |    kind: $midKind
         |  - name: out$sfx
         |    kind: parquet
         |operators:
         |  gate:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [raw]
         |    sinks: [mid$sfx]
         |    config:
         |      filter_expr: value > 1.5
         |  total:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [mid$sfx]
         |    sinks: [out$sfx]
         |    config:
         |      sql: SELECT CAST(sum(value) AS DOUBLE) AS total FROM mid$sfx
         |      views: [mid$sfx]
         |""".stripMargin
    val namesMem = Topology.parse(yaml("memory", "_m"))
      .runBatch(spark, s"$tmp/sinks_m")
    val namesDur = Topology.parse(yaml("parquet", "_d"))
      .runBatch(spark, s"$tmp/sinks_d")
    val gotMem = spark.read.parquet(s"$tmp/sinks_m/out_m").as[Double].head()
    val gotDur = spark.read.parquet(s"$tmp/sinks_d/out_d").as[Double].head()
    assert(gotMem == 5.0 && gotDur == 5.0)
    // the memory intermediate is NOT written (no durable round-trip) and
    // is excluded from the returned written-sink names; the durable
    // variant writes it
    assert(!new java.io.File(s"$tmp/sinks_m/mid_m").exists())
    assert(new java.io.File(s"$tmp/sinks_d/mid_d").exists())
    assert(namesMem == Seq("out_m"), namesMem)
    assert(namesDur.toSet == Set("mid_d", "out_d"), namesDur)
    // the batch analogue of the stream memory sink: inspectable by name
    assert(spark.table("mid_m").as[Double].collect().sorted.toSeq ==
      Seq(2.0, 3.0))
    // a memory relay consumed by TWO downstream operators: correct
    // results off ONE shared materialization (the >=2-consumer persist
    // contract — see the runBatch scaladoc)
    val fanout =
      s"""topics:
         |  - name: raw
         |    kind: parquet
         |    path: $tmp/in
         |  - name: mid_f
         |    kind: memory
         |  - name: total_f
         |    kind: parquet
         |  - name: count_f
         |    kind: parquet
         |operators:
         |  gate:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [raw]
         |    sinks: [mid_f]
         |    config:
         |      filter_expr: value > 1.5
         |  total:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [mid_f]
         |    sinks: [total_f]
         |    config:
         |      sql: SELECT CAST(sum(value) AS DOUBLE) AS total FROM mid_f
         |      views: [mid_f]
         |  cnt:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [mid_f]
         |    sinks: [count_f]
         |    config:
         |      sql: SELECT CAST(count(*) AS BIGINT) AS n FROM mid_f
         |      views: [mid_f]
         |""".stripMargin
    Topology.parse(fanout).runBatch(spark, s"$tmp/sinks_f")
    assert(spark.read.parquet(s"$tmp/sinks_f/total_f")
      .as[Double].head() == 5.0)
    assert(spark.read.parquet(s"$tmp/sinks_f/count_f")
      .as[Long].head() == 2L)
    // an unproduced memory topic as a batch SOURCE refuses loudly
    val orphan =
      s"""topics:
         |  - name: ghost
         |    kind: memory
         |  - name: out2
         |    kind: parquet
         |operators:
         |  m:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [ghost]
         |    sinks: [out2]
         |""".stripMargin
    val e = intercept[IllegalArgumentException](
      Topology.parse(orphan).runBatch(spark, s"$tmp/sinks_g"))
    assert(e.getMessage.contains("intra-run relay"), e.getMessage)
  }

  test("multi-consumer memory relay shares ONE materialization: a " +
    "nondeterministic upstream hands both consumers the same rows " +
    "(without the persist each sink action would redraw rand())") {
    val tmp = Files.createTempDirectory("topo_nondet").toString
    spark.range(0, 64).selectExpr("CAST(id AS DOUBLE) AS value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: raw
         |    kind: parquet
         |    path: $tmp/in
         |  - name: drawn
         |    kind: memory
         |  - name: left
         |    kind: parquet
         |  - name: right
         |    kind: parquet
         |operators:
         |  draw:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [raw]
         |    sinks: [drawn]
         |    config:
         |      sql: SELECT value, rand() AS r FROM raw
         |      views: [raw]
         |  a:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [drawn]
         |    sinks: [left]
         |    config:
         |      sql: SELECT value, r FROM drawn
         |      views: [drawn]
         |  b:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [drawn]
         |    sinks: [right]
         |    config:
         |      sql: SELECT value, r FROM drawn
         |      views: [drawn]
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val l = spark.read.parquet(s"$tmp/sinks/left")
      .as[(Double, Double)].collect().sortBy(_._1).toSeq
    val r = spark.read.parquet(s"$tmp/sinks/right")
      .as[(Double, Double)].collect().sortBy(_._1).toSeq
    assert(l == r, "the two consumers of the memory relay observed " +
      "different draws — the >=2-consumer persist contract is broken")
    // the relay's temp view reports the shared cache level
    assert(spark.table("drawn").storageLevel.useMemory,
      "multi-consumer memory relay is not persisted")
  }

  test("Main batch mode refuses a topology whose sinks are ALL " +
    "kind:memory — nothing durable would be written yet the JVM " +
    "would exit 0") {
    val tmp = Files.createTempDirectory("topo_allmem").toString
    Seq(1.0, 2.0).toDF("value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: raw
         |    kind: parquet
         |    path: $tmp/in
         |  - name: only_view
         |    kind: memory
         |operators:
         |  m:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [raw]
         |    sinks: [only_view]
         |""".stripMargin
    val e = intercept[IllegalArgumentException](
      Main.run(spark, Topology.parse(yaml),
        Map("mode" -> "batch", "output" -> s"$tmp/out")))
    assert(e.getMessage.contains("no durable sink"), e.getMessage)
  }

  test("topology DAG: operator declaration order does not matter " +
    "(wire is topological) and cycles fail loudly") {
    val tmp = Files.createTempDirectory("topo_order").toString
    Seq(1.0, 2.0, 3.0).toDF("value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    // downstream op declared FIRST: wiring must defer it until its
    // source topic is produced
    val yaml =
      s"""topics:
         |  - name: raw
         |    kind: parquet
         |    path: $tmp/in
         |  - name: mid
         |    kind: parquet
         |  - name: out
         |    kind: parquet
         |operators:
         |  second:
         |    factory: graft.streaming.ops.SqlOp
         |    sources: [mid]
         |    sinks: [out]
         |    config:
         |      sql: SELECT CAST(sum(value) AS DOUBLE) AS total FROM mid
         |      views: [mid]
         |  first:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [raw]
         |    sinks: [mid]
         |    config:
         |      filter_expr: value > 1.5
         |""".stripMargin
    Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    val total = spark.read.parquet(s"$tmp/sinks/out")
      .as[Double].head()
    assert(total == 5.0)
    // a cycle refuses at wiring time with the offending operators named
    val cyclic =
      s"""topics:
         |  - name: a
         |    kind: parquet
         |  - name: b
         |    kind: parquet
         |operators:
         |  o1:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [a]
         |    sinks: [b]
         |    config:
         |      filter_expr: "true"
         |  o2:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [b]
         |    sinks: [a]
         |    config:
         |      filter_expr: "true"
         |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      Topology.parse(cyclic).runBatch(spark, s"$tmp/sinks2")
    }
    assert(e.getMessage.contains("cycle"), e.getMessage)
  }

  test("two operators producing ONE topic refuse at wiring time with " +
    "both producers named (the relay map is single-valued — silent " +
    "last-writer-wins was round-8 verdict #2)") {
    val tmp = Files.createTempDirectory("topo_dup").toString
    Seq(1.0, 2.0).toDF("value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: raw
         |    kind: parquet
         |    path: $tmp/in
         |  - name: shared
         |    kind: parquet
         |operators:
         |  left:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [raw]
         |    sinks: [shared]
         |    config:
         |      filter_expr: value > 1.5
         |  right:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [raw]
         |    sinks: [shared]
         |    config:
         |      filter_expr: value <= 1.5
         |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      Topology.parse(yaml).runBatch(spark, s"$tmp/sinks")
    }
    assert(e.getMessage.contains("duplicate producers"), e.getMessage)
    assert(e.getMessage.contains("left") && e.getMessage.contains("right"),
      e.getMessage)
    assert(e.getMessage.contains("merge"), e.getMessage)
  }

  test("a config_topic operator sourcing a MEMORY relay topic refuses " +
    "at wiring time, BEFORE any static query starts (no half-running " +
    "topology left behind)") {
    val tmp = Files.createTempDirectory("topo_dynmem").toString
    Seq(1L, 2L).toDF("value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    Seq((1L, 7)).toDF("version", "multiply")
      .withColumn("published_at", current_timestamp())
      .write.mode("overwrite").parquet(s"$tmp/conf")
    val yaml =
      s"""topics:
         |  - name: in
         |    kind: parquet
         |    path: $tmp/in
         |  - name: conf
         |    kind: parquet
         |    path: $tmp/conf
         |  - name: mid
         |    kind: memory
         |  - name: out
         |    kind: parquet
         |    path: $tmp/out
         |operators:
         |  stage1:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [in]
         |    sinks: [mid]
         |    config:
         |      filter_expr: "true"
         |  stage2:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [mid]
         |    sinks: [out]
         |    config_topic: conf
         |""".stripMargin
    val activeBefore = spark.streams.active.length
    val e = intercept[IllegalArgumentException] {
      Topology.parse(yaml).runStream(spark, s"$tmp/ckpt")
    }
    assert(e.getMessage.contains("memory relays"), e.getMessage)
    // validation fired before ANY start(): nothing new is running
    assert(spark.streams.active.length == activeBefore,
      "static queries were started before the dynamic wiring refused")
  }

  test("parquet-relay composition mid-DAG: a config_topic (dynamic) " +
    "operator consumes a STATIC operator's parquet sink topic — the " +
    "durable-handoff chain the memory-relay refusal points users to") {
    val tmp = Files.createTempDirectory("topo_dynchain").toString
    Seq(1L, 2L, 3L).toDF("value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    Seq((1L, 4)).toDF("version", "multiply")
      .withColumn("published_at", current_timestamp())
      .write.mode("overwrite").parquet(s"$tmp/conf")
    // the handoff topic declares its DDL schema: at first boot the
    // static producer has committed nothing yet (its _spark_metadata
    // log is empty), so the dynamic consumer could not infer a schema
    // from the path — the declared schema removes the bootstrap race
    val yaml =
      s"""topics:
         |  - name: in
         |    kind: parquet
         |    path: $tmp/in
         |  - name: conf
         |    kind: parquet
         |    path: $tmp/conf
         |  - name: mid
         |    kind: parquet
         |    path: $tmp/mid
         |    schema: value STRING
         |  - name: out
         |    kind: parquet
         |    path: $tmp/out
         |operators:
         |  stage1:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [in]
         |    sinks: [mid]
         |    config:
         |      multiply: 1
         |  stage2:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [mid]
         |    sinks: [out]
         |    config_topic: conf
         |""".stripMargin
    val queries = Topology.parse(yaml).runStream(spark, s"$tmp/ckpt")
    try {
      queries.foreach(_.processAllAvailable())
      // the dynamic file source may discover stage1's files only on a
      // second pass — drain again
      queries.foreach(_.processAllAvailable())
      val got = spark.read.parquet(s"$tmp/out")
        .select("value").as[String].collect().map(_.toLong).toSet
      // stage1 relays 1,2,3 through the parquet topic; the dynamic
      // stage2 applies the config-topic factor 4 per micro-batch
      assert(got == Set(4L, 8L, 12L), got)
    } finally queries.foreach(_.stop())
  }

  test("a typo'd dynamic-operator factory FQCN refuses BEFORE any " +
    "static query starts — factory resolution happens in the up-front " +
    "validation pass, not at dynamic-query wiring (round-9 advice)") {
    val tmp = Files.createTempDirectory("topo_dynfqcn").toString
    Seq(1L, 2L).toDF("value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    Seq((1L, 7)).toDF("version", "multiply")
      .withColumn("published_at", current_timestamp())
      .write.mode("overwrite").parquet(s"$tmp/conf")
    val yaml =
      s"""topics:
         |  - name: in
         |    kind: parquet
         |    path: $tmp/in
         |  - name: conf
         |    kind: parquet
         |    path: $tmp/conf
         |  - name: mid
         |    kind: parquet
         |    path: $tmp/mid
         |  - name: out
         |    kind: parquet
         |    path: $tmp/out
         |operators:
         |  stage1:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [in]
         |    sinks: [mid]
         |    config:
         |      filter_expr: "true"
         |  stage2:
         |    factory: graft.streaming.ops.NoSuchOpAnywhere
         |    sources: [in]
         |    sinks: [out]
         |    config_topic: conf
         |""".stripMargin
    val activeBefore = spark.streams.active.length
    intercept[ClassNotFoundException] {
      Topology.parse(yaml).runStream(spark, s"$tmp/ckpt")
    }
    // the FQCN resolved (and threw) before ANY start(): the static
    // stage1 query must not be left running behind the error
    assert(spark.streams.active.length == activeBefore,
      "static queries were left running after the dynamic factory " +
        "failed to resolve")
  }

  test("a dynamic source that fails to resolve AFTER the static " +
    "queries start is cleaned up — startup stops every " +
    "already-started query before rethrowing (round-9 advice)") {
    val tmp = Files.createTempDirectory("topo_dynsrc").toString
    Seq(1L, 2L).toDF("value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    Seq((1L, 7)).toDF("version", "multiply")
      .withColumn("published_at", current_timestamp())
      .write.mode("overwrite").parquet(s"$tmp/conf")
    // `nowhere` has no path on disk and no declared schema: the
    // dynamic streamSource throws at schema inference, necessarily
    // after stage1's static query has already started
    val yaml =
      s"""topics:
         |  - name: in
         |    kind: parquet
         |    path: $tmp/in
         |  - name: conf
         |    kind: parquet
         |    path: $tmp/conf
         |  - name: mid
         |    kind: parquet
         |    path: $tmp/mid
         |  - name: nowhere
         |    kind: parquet
         |    path: $tmp/does_not_exist
         |  - name: out
         |    kind: parquet
         |    path: $tmp/out
         |operators:
         |  stage1:
         |    factory: graft.streaming.ops.FilterOp
         |    sources: [in]
         |    sinks: [mid]
         |    config:
         |      filter_expr: "true"
         |  stage2:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [nowhere]
         |    sinks: [out]
         |    config_topic: conf
         |""".stripMargin
    val activeBefore = spark.streams.active.length
    intercept[Exception] {
      Topology.parse(yaml).runStream(spark, s"$tmp/ckpt")
    }
    assert(spark.streams.active.length == activeBefore,
      "the started static query was left running after the dynamic " +
        "source failed to resolve")
  }

  test("shuffle_partitions topology knob: parsed, applied at run " +
    "(session-scoped by documented design), refused when non-positive") {
    val tmp = Files.createTempDirectory("topo_sp").toString
    Seq("1", "2", "3").toDF("value")
      .write.mode("overwrite").parquet(s"$tmp/in")
    def yaml(knob: String) =
      s"""${knob}topics:
         |  - name: values
         |    kind: parquet
         |    path: $tmp/in
         |  - name: out
         |    kind: parquet
         |    path: $tmp/out
         |operators:
         |  multiply:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [values]
         |    sinks: [out]
         |config:
         |  multiply: 2
         |""".stripMargin
    assert(Topology.parse(yaml("")).shufflePartitions.isEmpty)
    val topo = Topology.parse(yaml("shuffle_partitions: 8\n"))
    assert(topo.shufflePartitions.contains(8))
    intercept[IllegalArgumentException] {
      Topology.parse(yaml("shuffle_partitions: 0\n"))
    }
    // the knob is session-scoped for the topology's lifetime (see the
    // applyShufflePartitions scaladoc) — save/restore around the run
    // because the suite shares its session
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    try {
      topo.runBatch(spark, s"$tmp/sinks")
      assert(spark.conf.get(key) == "8",
        "runBatch must apply the topology's shuffle_partitions")
      val got = spark.read.parquet(s"$tmp/sinks/out")
        .select("value").as[String].collect().map(_.toLong).sorted.toSeq
      assert(got == Seq(2L, 4L, 6L))
    } finally spark.conf.set(key, prior)
  }

  test("parse refuses duplicate topic declarations — topic() resolves " +
    "by find, so a copy-pasted second block would shadow silently") {
    val yaml =
      """topics:
        |  - name: t
        |    kind: memory
        |  - name: t
        |    kind: parquet
        |    path: /tmp/x
        |""".stripMargin
    val ex = intercept[IllegalArgumentException](Topology.parse(yaml))
    assert(ex.getMessage.contains("duplicate topic"), ex.getMessage)
  }

  test("parse refuses inspect on non-memory topics (accepted-but-" +
    "ignored knobs are config lies)") {
    val yaml =
      """topics:
        |  - name: t
        |    kind: parquet
        |    path: /tmp/x
        |    inspect: true
        |""".stripMargin
    val ex = intercept[IllegalArgumentException](Topology.parse(yaml))
    assert(ex.getMessage.contains("inspect"), ex.getMessage)
  }

  test("runBatch refuses kafka sinks loudly — writeFileSink would " +
    "silently write them as parquet under outDir with no broker " +
    "produce") {
    val tmp = Files.createTempDirectory("topo_kbatch").toString
    Seq(1.0).toDF("value").write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: raw
         |    kind: parquet
         |    path: $tmp/in
         |  - name: out_k
         |    kind: kafka
         |    endpoint: b:9092
         |operators:
         |  m:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [raw]
         |    sinks: [out_k]
         |""".stripMargin
    val ex = intercept[IllegalArgumentException](
      Topology.parse(yaml).runBatch(spark, s"$tmp/sinks"))
    assert(ex.getMessage.contains("not supported in batch mode"),
      ex.getMessage)
  }

  test("configMap keeps EVERY column of a file-backed row that " +
    "happens to have a column named 'value' — kafka-frame detection " +
    "keys on the transport schema, not one column name") {
    val row = Seq((2.5, 0.7)).toDF("value", "threshold").collect().head
    val m = Topology.configMap(row)
    assert(m == Map("value" -> 2.5, "threshold" -> 0.7), m.toString)
  }

  test("a dynamic operator's config_topic is validated UP FRONT: an " +
    "unreadable kind (memory) refuses before any static query starts") {
    val tmp = Files.createTempDirectory("topo_dynct").toString
    Seq(1L).toDF("value").write.mode("overwrite").parquet(s"$tmp/in")
    val yaml =
      s"""topics:
         |  - name: in
         |    kind: parquet
         |    path: $tmp/in
         |  - name: conf
         |    kind: memory
         |  - name: out
         |    kind: parquet
         |    path: $tmp/out
         |operators:
         |  m:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [in]
         |    sinks: [out]
         |    config_topic: conf
         |""".stripMargin
    val activeBefore = spark.streams.active.length
    val ex = intercept[IllegalArgumentException](
      Topology.parse(yaml).runStream(spark, s"$tmp/ckpt"))
    assert(ex.getMessage.contains("config_topic"), ex.getMessage)
    assert(spark.streams.active.length == activeBefore,
      "static queries started before the config-topic validation fired")
  }
}

package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.yaml.snakeyaml.Yaml

/** A user operator factory — the Spark counterpart of the reference's
  * operator factory functions `(config, *sources) -> (sink, ...)`
  * (reference makinage/operator.py:196-229, docs/configuration.rst:48-57).
  * Implementations are Scala `object`s resolved by reflection from the
  * YAML `factory:` entry (the analogue of `module:function` specs loaded
  * by import_function, reference makinage/util.py:5-23). */
trait OperatorFactory {
  def apply(config: Map[String, Any], sources: Seq[DataFrame])
      : Seq[DataFrame]
}

/** Topic declaration (reference makinage/operator.py:26-73): name + codec +
  * replay policy, generalized with a source `kind` so the same topology
  * runs Kafka-backed (production) or file-backed (tests/batch).
  * File-backed kinds: `parquet` (columnar, the default durable handoff)
  * and `json` (JSONL — one object per line, the raw-crawl ingest and
  * training-export interchange format; requires a declared DDL
  * `schema:` on reads, refuses `zorder_by` — JSON scans carry no
  * min/max stats to prune with). `compression:` names a file-sink
  * codec (gzip/zstd for jsonl.gz exports, snappy/zstd for parquet);
  * readers decompress transparently. Scale note: compressed TEXT
  * files are non-splittable — a reader gets ONE task per .gz/.zst
  * jsonl shard (parquet stays splittable at any codec: compression
  * is per-column-chunk there), so size compressed exports via
  * `sink_partitions` to keep shards in the 100 MB–1 GB band a
  * downstream scan parallelizes over.
  *
  * Event-time fields mirror the reference `Topic`'s timestamp_mapper /
  * map_partition (makinage/operator.py:26-73):
  *  - `timestampCol` + `watermark`: the event-time column and allowed
  *    lateness; stream sources with both set are watermarked at the
  *    source, so windowed/stateful operators downstream are reachable
  *    straight from YAML.
  *  - `partitionSelector`: column whose value keys the sink records
  *    (Kafka partition routing — the reference's map_partition).
  *  - `partitionBy`: hive-style directory partitioning for PARQUET
  *    sinks (YAML `partition_by: [lang, source]`) — training shards
  *    land as `lang=en/source=web/part-*.parquet`, so downstream
  *    readers get partition pruning on those columns for free. The
  *    parquet analogue of kafka's partition_selector.
  *  - `sinkPartitions` (YAML `sink_partitions`): task count for
  *    parquet sink writes — the small-files control. Without it, a
  *    32-task stage writing a partitioned sink sprays up to
  *    32 × |dirs| tiny files (the classic scale problem: a day of
  *    micro-batches makes millions of kilobyte files and the NEXT
  *    job's planning chokes on listing). With it, rows are
  *    repartitioned to N tasks — hashed by the partition_by columns
  *    when set, so each hive directory is written by few tasks.
  *  - `maxPerTrigger` (YAML `max_per_trigger`): micro-batch size bound
  *    for STREAM sources — maxOffsetsPerTrigger on kafka topics,
  *    maxFilesPerTrigger on parquet topics. The pull-based analogue of
  *    the reference's PID backpressure (makinage/operator.py:216-269):
  *    instead of a regulator throttling a push source, the micro-batch
  *    engine drains at most this much per trigger, so a flood-prone
  *    topic cannot blow executor memory in one batch. 0 (default) =
  *    unbounded (everything available).
  *  - `zorderBy` (YAML `zorder_by: [value, user_id]`, optional
  *    `zorder_bits`): write-time Z-order clustering for PARQUET sinks
  *    ([[graft.operators.Layout]]) — rows are range-partitioned and
  *    locally sorted by the Morton key of these columns, so each
  *    output file covers a compact hyper-rectangle and file-level
  *    min/max stats prune scans on EVERY interleaved column (the
  *    Delta `OPTIMIZE ZORDER BY` contract at write time). Bounded
  *    frames only (batch runs and config_topic foreachBatch sinks —
  *    each micro-batch lays out against its own ranges); a static
  *    streaming sink refuses loudly, since the key needs corpus
  *    min/max. With `partition_by` too, rows z-sort WITHIN their hive
  *    directory. */
case class TopicSpec(name: String, codec: String, startFrom: String,
                     kind: String, path: String, endpoint: String,
                     timestampCol: String = "", watermark: String = "",
                     partitionSelector: String = "",
                     schema: String = "",
                     partitionBy: Seq[String] = Nil,
                     sinkPartitions: Int = 0,
                     zorderBy: Seq[String] = Nil,
                     zorderBits: Int = 8,
                     maxPerTrigger: Long = 0,
                     compression: String = "",
                     inspect: Boolean = false)

/** `configTopic` (YAML `config_topic`): name of a topic whose NEWEST
  * record is merged over the static `config:` block and handed to this
  * operator's factory — re-resolved per micro-batch in stream mode, once
  * per run in batch mode. The Spark re-expression of the reference's
  * per-event config join (`with_latest_from(config)`,
  * reference makinage/sample/processor.py:9, makinage/serve/serve.py:131,
  * Consul watch makinage/config.py:57-84) at micro-batch granularity
  * (SURVEY.md §7.4.2).
  *
  * `config`: the operator's OWN `config:` block (reference operators
  * each carry a config section, makinage/operator.py:196-229) — merged
  * OVER the topology-global block at resolution time, so two SqlOps in
  * one DAG can declare different `sql`, two gates different thresholds.
  * Precedence: config_topic (dynamic) > operator config > global. */
case class OperatorSpec(name: String, factory: String,
                        sources: Seq[String], sinks: Seq[String],
                        configTopic: String = "",
                        config: Map[String, Any] = Map.empty)

/** YAML topology runner — the engine's `makinage --config app.yaml`
  * equivalent (reference makinage/makinage.py:66-135 + operator.py:162-279):
  * topics become DataFrame sources/sinks, operator factories wire them, and
  * each sink becomes a streaming query (stream mode) or a parquet write
  * (batch mode — the same unified-API promise as the reference,
  * reference README.rst:38).
  */
object Topology {

  def parse(yamlText: String): Topology = {
    val root = new Yaml().load[java.util.Map[String, Object]](yamlText)
      .asScala.toMap

    def asMap(o: Any): Map[String, Any] = o match {
      case m: java.util.Map[_, _] =>
        m.asScala.toMap.map { case (k, v) => k.toString -> v }
      case null => Map.empty
      case other =>
        throw new IllegalArgumentException(s"expected map, got $other")
    }

    val topics = root.getOrElse("topics", new java.util.ArrayList[Object]())
      .asInstanceOf[java.util.List[Object]].asScala.map { o =>
        val m = asMap(o)
        TopicSpec(
          name = m("name").toString,
          codec = m.getOrElse("codec", "string").toString, // default codec
          startFrom = m.getOrElse("start_from", "end").toString,
          kind = m.getOrElse("kind", "kafka").toString,
          path = m.getOrElse("path", "").toString,
          endpoint = m.getOrElse("endpoint", "").toString,
          timestampCol = m.getOrElse("timestamp_col", "").toString,
          watermark = m.getOrElse("watermark", "").toString,
          partitionSelector =
            m.getOrElse("partition_selector", "").toString,
          schema = m.getOrElse("schema", "").toString,
          partitionBy = m.getOrElse("partition_by", null) match {
            case null => Nil
            case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
            case s => s.toString.split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq
          },
          sinkPartitions =
            m.getOrElse("sink_partitions", "0").toString.toInt,
          zorderBy = m.getOrElse("zorder_by", null) match {
            case null => Nil
            case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
            case s => s.toString.split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq
          },
          zorderBits = m.getOrElse("zorder_bits", "8").toString.toInt,
          maxPerTrigger =
            m.getOrElse("max_per_trigger", "0").toString.toLong,
          compression = m.getOrElse("compression", "").toString,
          inspect =
            m.getOrElse("inspect", "false").toString.toBoolean)
      }.toSeq

    val operators = asMap(root.getOrElse("operators", null)).map {
      case (name, o) =>
        val m = asMap(o)
        OperatorSpec(
          name = name,
          factory = m("factory").toString,
          sources = m.getOrElse("sources", new java.util.ArrayList[Object]())
            .asInstanceOf[java.util.List[Object]].asScala
            .map(_.toString).toSeq,
          sinks = m.getOrElse("sinks", new java.util.ArrayList[Object]())
            .asInstanceOf[java.util.List[Object]].asScala
            .map(_.toString).toSeq,
          configTopic = m.getOrElse("config_topic", "").toString,
          config = asMap(m.getOrElse("config", null)))
    }.toSeq

    // `compression:` is a file-sink codec knob — on a kafka/memory topic
    // it would be accepted and silently ignored, the exact accepted-but-
    // useless shape the zorder_by-on-json refusal exists to prevent.
    // Refuse at parse so the config is honest before anything runs.
    topics.foreach { t =>
      require(t.compression.isEmpty || isFileKind(t),
        s"topic '${t.name}': compression names a file-sink codec " +
          s"(parquet/json topics only); kind '${t.kind}' would silently " +
          "ignore it")
      require(!t.inspect || t.kind == "memory",
        s"topic '${t.name}': inspect applies only to memory relay " +
          s"topics (it opts an intermediate relay into its own " +
          s"in-memory query); kind '${t.kind}' would silently ignore it")
    }
    // duplicate topic NAMES shadow silently: topic() resolves by find,
    // so a copy-pasted block's second declaration — possibly the edited
    // one — would never be read (requireSingleProducers covers duplicate
    // producers, not duplicate specs)
    val dupNames = topics.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupNames.isEmpty,
      s"duplicate topic declaration(s): ${dupNames.mkString(", ")} — " +
        "each topic may be declared once")
    val shufflePartitions = root.get("shuffle_partitions")
      .map(_.toString.toInt)
    shufflePartitions.foreach(n => require(n > 0,
      s"shuffle_partitions must be positive: $n"))
    Topology(topics, operators, asMap(root.getOrElse("config", null)),
      shufflePartitions)
  }

  /** Path-backed file kinds (vs kafka/memory) — the topics that take
    * the file-sink shaping, hive partitioning and compression knobs.
    * One predicate (shared by parse-time validation and the case
    * class's sink dispatch) so a future file kind (csv/orc topics)
    * can't miss one of the sites. */
  private[streaming] def isFileKind(t: TopicSpec): Boolean =
    t.kind == "parquet" || t.kind == "json"

  /** Reflection loader for factory objects (import_function analogue). */
  def loadFactory(fqcn: String): OperatorFactory = {
    val clazz = Class.forName(fqcn + "$")
    clazz.getField("MODULE$").get(null).asInstanceOf[OperatorFactory]
  }

  /** Topic codec instance (json codecs take the topic's declared DDL
    * schema — explicit schemas, SURVEY.md §1.2). */
  def codecOf(t: TopicSpec): graft.functions.Codec =
    graft.functions.Codecs.byName(t.codec,
      if (t.schema.nonEmpty)
        Some(org.apache.spark.sql.types.StructType.fromDDL(t.schema))
      else None)

  /** Consumer-side codec application for a Kafka frame: decode the binary
    * `value` per the topic codec, keep key/timestamp/partition metadata —
    * what operator factories receive (the reference decodes per-topic
    * before handing items to operators, makinage/operator.py:93-96). */
  def decodeFrame(df: org.apache.spark.sql.DataFrame, t: TopicSpec)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("value", codecOf(t).decode(col("value")))
  }

  /** Producer-side codec application: encode the typed `value` column to
    * the binary Kafka frame value (reference makinage/operator.py:244-251). */
  def encodeFrame(df: org.apache.spark.sql.DataFrame, t: TopicSpec)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("value", codecOf(t).encode(col("value")))
  }

  /** The EXACT option map every Kafka consumer site hands to
    * `format("kafka")` — factored out of the read sites so the broker
    * contract is pinnable WITHOUT a broker (none can exist in this
    * container: /opt/spark/jars ships neither spark-sql-kafka nor
    * kafka-clients and there is no egress to fetch them — docs/kafka.md
    * records the proof and the live-cluster runbook; KafkaContractSpec
    * pins this map). start_from maps per the reference
    * (makinage/operator.py:50-53): `beginning` → earliest, `end` →
    * latest; `last` is NOT a stream source (see [[Topology]] streamSource
    * scaladoc — resolved per micro-batch via [[Topology.latestRecord]])
    * and refuses here; batch pulls are bounded earliest→latest
    * regardless (reference data/pull.py). `max_per_trigger` becomes
    * maxOffsetsPerTrigger, the pull-based stand-in for the reference's
    * PID backpressure regulator (makinage/operator.py:216-269). */
  def kafkaSourceOptions(t: TopicSpec, streaming: Boolean)
      : Map[String, String] = {
    require(t.kind == "kafka",
      s"not a kafka topic: ${t.name} (kind ${t.kind})")
    require(t.endpoint.nonEmpty,
      s"kafka topic ${t.name}: endpoint (bootstrap servers) is required")
    val base = Map(
      "kafka.bootstrap.servers" -> t.endpoint,
      "subscribe" -> t.name)
    if (!streaming)
      base ++ Map("startingOffsets" -> "earliest",
        "endingOffsets" -> "latest")
    else {
      val starting = t.startFrom match {
        case "beginning" => "earliest"
        case "last" =>
          throw new IllegalArgumentException(
            s"topic ${t.name}: start_from 'last' is not a kafka stream " +
              "source; resolve it per micro-batch via " +
              "Topology.latestRecord (model side-input contract)")
        case _ => "latest" // "end"
      }
      base + ("startingOffsets" -> starting) ++
        (if (t.maxPerTrigger > 0)
          Map("maxOffsetsPerTrigger" -> t.maxPerTrigger.toString)
        else Map.empty)
    }
  }

  /** Producer-side twin of [[kafkaSourceOptions]] — shared by the
    * streaming kafka sink and the foreachBatch bounded write. */
  def kafkaSinkOptions(t: TopicSpec): Map[String, String] = {
    require(t.kind == "kafka",
      s"not a kafka topic: ${t.name} (kind ${t.kind})")
    require(t.endpoint.nonEmpty,
      s"kafka topic ${t.name}: endpoint (bootstrap servers) is required")
    Map("kafka.bootstrap.servers" -> t.endpoint, "topic" -> t.name)
  }

  /** Flatten one latest-record row to a config map — the shape operator
    * factories receive. A kafka frame row contributes ONLY its decoded
    * `value` (struct fields flattened, scalar under "value") — transport
    * metadata (key/topic/partition/offset/timestamp) must not shadow
    * same-named static config keys; a file-backed row contributes every
    * column. Shared by [[Topology.latestConfig]] and the broker-less
    * parity test. */
  def configMap(r: org.apache.spark.sql.Row): Map[String, Any] = {
    val fields = r.schema.fields.zipWithIndex
    def flat(f: org.apache.spark.sql.types.StructField, i: Int)
        : Seq[(String, Any)] = f.dataType match {
      case s: org.apache.spark.sql.types.StructType
          if f.name == "value" && !r.isNullAt(i) =>
        val sub = r.getStruct(i)
        s.fields.indices.map(j => s.fields(j).name -> sub.get(j))
      case _ => Seq(f.name -> r.get(i))
    }
    // kafka-frame detection keys on the TRANSPORT schema (value plus
    // topic/partition/offset, the columns every kafka read carries) —
    // the mere presence of a column named "value" must not reclassify
    // a file-backed config row and silently drop its other columns
    // (a parquet topic with (value, threshold) would otherwise deliver
    // only "value" and the operator would run on the static default)
    val names = r.schema.fields.map(_.name).toSet
    val kafkaShape = Seq("value", "topic", "partition", "offset")
      .forall(names.contains)
    if (kafkaShape)
      fields.find(_._1.name == "value") match {
        case Some((f, i)) => flat(f, i).toMap
        case None => Map.empty // unreachable: kafkaShape requires value
      }
    else fields.flatMap { case (f, i) => flat(f, i) }.toMap
  }
}

case class Topology(topics: Seq[TopicSpec], operators: Seq[OperatorSpec],
                    config: Map[String, Any],
                    shufflePartitions: Option[Int] = None) {

  /** `run` with the topology-level `shuffle_partitions:` knob set,
    * then the session's prior value back (measured r14,
    * history/neardup_profile.json: a low-rate stateful stream pays
    * (partitions x state-store commit) PER MICRO-BATCH — 8 instead of
    * 32 partitions ran the near-dup topology 1.6x faster, and 2.9x
    * combined with a larger max_per_trigger). A started streaming query
    * keeps the knob after the restore: it runs on a session clone taken
    * at `start()`, and its checkpoint's offset log records the value
    * for restarts (TopologySpec pins both). */
  private def withShufflePartitions[T](spark: SparkSession)(run: => T): T =
    shufflePartitions match {
      case None => run
      case Some(n) =>
        val key = "spark.sql.shuffle.partitions"
        val prior = spark.conf.getOption(key)
        spark.conf.set(key, n.toString)
        try run
        finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  private def topic(name: String): TopicSpec =
    topics.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"undeclared topic: $name"))

  /** Build a bounded source for a topic (batch mode). */
  /** JSONL topics require a declared DDL `schema:` on every read path:
    * unlike parquet (schema in the footer, one cheap metadata read),
    * JSON schema inference is a FULL extra pass over the data — at
    * corpus scale that silently doubles the ingest cost, and inferred
    * types drift with the sample (a numeric-looking id column flips
    * type between days). Loud refusal beats either. */
  private def jsonSchema(t: TopicSpec)
      : org.apache.spark.sql.types.StructType = {
    require(t.schema.nonEmpty,
      s"topic ${t.name}: a json topic needs a declared DDL 'schema:' — " +
        "JSON schema inference is a full extra data pass (and " +
        "sample-dependent); declare the schema in the topology")
    org.apache.spark.sql.types.StructType.fromDDL(t.schema)
  }

  private def batchSource(spark: SparkSession, t: TopicSpec): DataFrame =
    t.kind match {
      case "parquet" => graft.core.Tables.parquet(spark, t.path)
      case "json" => spark.read.schema(jsonSchema(t)).json(t.path)
      case "kafka" =>
        // bounded Kafka read — reference's data/pull.py batch consumer;
        // value decoded per the topic codec before factories see it
        Topology.decodeFrame(
          spark.read.format("kafka")
            .options(Topology.kafkaSourceOptions(t, streaming = false))
            .load(), t)
      case "memory" =>
        throw new IllegalArgumentException(
          s"topic ${t.name}: a memory topic has no external data — it " +
            "can feed a batch operator only as an intra-run relay (the " +
            "sink of another operator in the same topology)")
      case other =>
        throw new IllegalArgumentException(s"batch source kind: $other")
    }

  /** Build an unbounded source (stream mode). start_from maps to
    * startingOffsets (reference makinage/operator.py:50-53).
    *
    * `start_from: last` (the reference's model-topic hot-swap contract —
    * the subscriber must see the newest already-published record,
    * makinage/operator.py:50-53, config.sample.serve.yml:10):
    *  - parquet topics satisfy it natively — the file source replays every
    *    retained file, and readers take the max version.
    *  - kafka STREAM sources cannot (Structured Streaming can't union a
    *    bounded tail read into an unbounded source), so `last` is the
    *    side-input contract instead: resolve the topic per micro-batch via
    *    [[Topology.latestRecord]] (the [[Serve.ModelProvider]] pattern,
    *    SURVEY.md §7.4.2) — requesting it as a stream source is a config
    *    error, rejected here rather than silently degraded to `latest`.
    */
  private def streamSource(spark: SparkSession, t: TopicSpec): DataFrame = {
    val src = t.kind match {
      case "parquet" =>
        // a declared DDL `schema:` wins: an intra-DAG durable-handoff
        // topic may not have committed any file yet when the consumer
        // wires (first boot) — and a dir being written by a STREAMING
        // parquet sink answers batch schema reads from its
        // _spark_metadata log, which is empty until the first commit.
        // Without a declared schema, infer from the path (pre-existing
        // topics), failing loudly on a not-yet-bootstrapped one.
        val schema =
          if (t.schema.nonEmpty)
            org.apache.spark.sql.types.StructType.fromDDL(t.schema)
          else spark.read.parquet(t.path).schema
        val r0 = spark.readStream.schema(schema)
        // max_per_trigger: micro-batch size bound — the pull-based
        // answer to the reference's PID backpressure regulator
        // (makinage/operator.py:216-269): a flood-prone topic is
        // drained at a bounded rate instead of one giant batch. Files
        // for the file source, offsets for kafka below.
        val r = if (t.maxPerTrigger > 0)
          r0.option("maxFilesPerTrigger", t.maxPerTrigger) else r0
        r.parquet(t.path)
      case "json" =>
        // JSONL directory as an unbounded source (the raw-crawl ingest
        // shape: dumps land as jsonl shards); declared schema required
        // (see jsonSchema), maxFilesPerTrigger bounds the drain rate
        // like the parquet path
        val r0 = spark.readStream.schema(jsonSchema(t))
        val r = if (t.maxPerTrigger > 0)
          r0.option("maxFilesPerTrigger", t.maxPerTrigger) else r0
        r.json(t.path)
      case "kafka" =>
        // option map (start_from/backpressure mapping incl. the loud
        // start_from:last refusal) factored into kafkaSourceOptions —
        // the KafkaContractSpec-pinned seam
        Topology.decodeFrame(
          spark.readStream.format("kafka")
            .options(Topology.kafkaSourceOptions(t, streaming = true))
            .load(), t)
      case "memory" =>
        throw new IllegalArgumentException(
          s"topic ${t.name}: a memory topic can feed a stream operator " +
            "only as an intra-run relay — it must be the SINK of another " +
            "STATIC operator in the same topology (config_topic operators " +
            "wire independently and cannot consume memory relays); use a " +
            "parquet/json/kafka topic for a durable handoff")
      case other =>
        throw new IllegalArgumentException(s"stream source kind: $other")
    }
    // declared event time ⇒ watermark at the source, so windowed/stateful
    // operators are reachable straight from YAML
    if (t.timestampCol.nonEmpty && t.watermark.nonEmpty)
      src.withWatermark(t.timestampCol, t.watermark)
    else src
  }

  /** Resolve the newest record of a `start_from: last` topic as a bounded
    * 1-row DataFrame — called per micro-batch by model providers (the
    * reference re-reads the newest retained model record on restart,
    * makinage/operator.py:50-53). Kafka model topics are expected to be
    * small/compacted (the reference relies on retention the same way). */
  def latestRecord(spark: SparkSession, name: String): DataFrame = {
    val t = topic(name)
    t.kind match {
      case "parquet" => ModelPublisher.latestFromPath(spark, t.path)
      case "kafka" =>
        latestFromKafkaFrame(
          spark.read.format("kafka")
            .options(Topology.kafkaSourceOptions(t, streaming = false))
            .load(), t)
      case other =>
        throw new IllegalArgumentException(s"latest-record kind: $other")
    }
  }

  /** The kafka half of [[latestRecord]] minus the broker read: newest
    * record across partitions (broker timestamp, offset tie-break),
    * decoded like every other consumer path — so callers get the same
    * decoded-`value` shape from both topic kinds. Factored out so the
    * frame contract is testable without a broker (none in CI). */
  private[graft] def latestFromKafkaFrame(frame: DataFrame,
                                          t: TopicSpec): DataFrame =
    Topology.decodeFrame(
      frame
        .orderBy(org.apache.spark.sql.functions.col("timestamp").desc,
          org.apache.spark.sql.functions.col("offset").desc)
        .limit(1), t)

  /** Resolve an operator's dynamic config: the newest record of its
    * config topic, flattened to a map and merged OVER the static
    * `config:` block (dynamic wins). Config topics follow the model-topic
    * publishing contract — newest = max(version, published_at)
    * ([[ModelPublisher.publishToPath]]). A kafka config record
    * contributes ONLY its decoded `value` (struct fields flattened,
    * scalar under "value") — the frame's transport metadata
    * (key/topic/partition/offset/timestamp) must not shadow same-named
    * static config keys. File-backed config topics contribute every
    * column. The read is a bounded 1-row side-input resolved on the
    * driver — the per-micro-batch re-read is O(callers), never per
    * event. */
  def latestConfig(spark: SparkSession, topicName: String)
      : Map[String, Any] =
    latestRecord(spark, topicName).collect().headOption
      .map(Topology.configMap).getOrElse(Map.empty)

  /** Effective config for one operator at resolution time. */
  private def configFor(spark: SparkSession, op: OperatorSpec)
      : Map[String, Any] = {
    val static = config ++ op.config // operator-local wins over global
    if (op.configTopic.isEmpty) static
    else static ++ latestConfig(spark, op.configTopic)
  }

  /** ONE producer per topic, validated before anything runs: the relay
    * map is single-valued, so a second producer would silently
    * overwrite the first and downstream consumers would see only one of
    * them (round-8 verdict #2) — and two foreachBatch writers appending
    * one parquet topic would interleave files. The reference's Kafka
    * substrate would interleave producers into the topic; that semantic
    * needs an explicit merge stage, not a last-writer-wins race. Called
    * over the FULL operator list in runStream (static + dynamic — the
    * wire() call there only sees the static subset) and via wire() for
    * batch. */
  private def requireSingleProducers(ops: Seq[OperatorSpec]): Unit = {
    val dupProducers = ops.flatMap(op => op.sinks.map(_ -> op.name))
      .groupBy(_._1).filter(_._2.sizeIs > 1)
    require(dupProducers.isEmpty,
      "duplicate producers for sink topic(s): " +
        dupProducers.toSeq.sortBy(_._1).map { case (t, prods) =>
          s"'$t' <- [${prods.map(_._2).mkString(", ")}]"
        }.mkString("; ") +
        " — each topic takes exactly ONE producing operator; to " +
        "interleave several producers, union them through an explicit " +
        "merge operator (e.g. ops.JoinOp/SqlOp UNION ALL) into the " +
        "shared topic")
  }

  /** Wire the operator DAG in TOPOLOGICAL order (the reference's selling
    * point is arbitrary operator chains over shared topics,
    * makinage/operator.py:162-279). A topic produced by one operator and
    * consumed by another THIS run is relayed intra-run:
    *
    *  - `chainable(t)` decides which produced topics relay in-process.
    *    Batch runs chain every kind (the composed/materialized plan IS
    *    the batch semantic of a topology). Stream runs chain `memory`
    *    topics only — plan-level relay, one composed query per terminal
    *    sink — while parquet/kafka intermediates keep their decoupled
    *    per-operator queries (file/broker relay): that decoupling is
    *    what lets two STATEFUL operators chain in stream mode (Spark
    *    rejects most stateful-after-stateful compositions inside a
    *    single query).
    *  - `relay(t, df)` maps each produced sink frame to what downstream
    *    consumers see. The batch runner writes the sink parquet and
    *    relays the READ-BACK — so a deep DAG computes every stage once
    *    (no re-planned upstream subtree per terminal sink), which is
    *    the shape that survives 100 TB. Stream relays the plan as-is.
    *
    * Non-produced source topics resolve externally as before. A cycle
    * (or a chain through a non-chainable topic with no external data)
    * fails loudly at wiring time. */
  private def wire(spark: SparkSession,
                   source: TopicSpec => DataFrame,
                   ops: Seq[OperatorSpec],
                   chainable: TopicSpec => Boolean = _ => true,
                   relay: (TopicSpec, DataFrame) => DataFrame =
                     (_, df) => df)
      : Seq[(TopicSpec, DataFrame)] = {
    requireSingleProducers(ops)
    val producedNames = ops.flatMap(_.sinks)
      .filter(n => chainable(topic(n))).toSet
    val produced = scala.collection.mutable.Map.empty[String, DataFrame]
    val out = Seq.newBuilder[(TopicSpec, DataFrame)]
    var pending = ops
    while (pending.nonEmpty) {
      val (ready, blocked) = pending.partition(_.sources.forall(n =>
        !producedNames.contains(n) || produced.contains(n)))
      require(ready.nonEmpty,
        s"operator cycle (or self-dependency) among: " +
          blocked.map(_.name).mkString(", "))
      ready.foreach { op =>
        val factory = Topology.loadFactory(op.factory)
        val sources = op.sources.map(n =>
          produced.getOrElse(n, source(topic(n))))
        val outs = factory(configFor(spark, op), sources)
        require(outs.size == op.sinks.size,
          s"operator ${op.name}: ${outs.size} outputs for " +
            s"${op.sinks.size} declared sinks")
        op.sinks.map(topic).zip(outs).foreach { case (t, df) =>
          val relayed = relay(t, df)
          if (chainable(t)) produced(t.name) = relayed
          out += ((t, df))
        }
      }
      pending = blocked
    }
    out.result()
  }

  /** Small-files control (`sink_partitions`) + write-time Z-order
    * clustering (`zorder_by`): bound the task count of a parquet
    * write, hashing by the partition_by columns when set so each hive
    * directory is written by few tasks instead of every task; with
    * zorder_by, range-partition + locally sort by the Morton key so
    * file-level min/max stats prune every interleaved column. */
  private def shapeForParquet(df: DataFrame, t: TopicSpec): DataFrame =
    if (t.zorderBy.nonEmpty) {
      import org.apache.spark.sql.functions.col
      // Z-order pays off through columnar file min/max stats; JSON
      // scans carry none — an accepted-but-useless layout knob would
      // lie about pruning
      require(t.kind != "json",
        s"sink '${t.name}': zorder_by needs columnar min/max stats to " +
          "prune scans — JSON files carry none; use a parquet topic " +
          "for z-ordered layout")
      require(!df.isStreaming,
        s"sink '${t.name}': zorder_by needs corpus min/max — bounded " +
          "frames only (batch runs or a config_topic foreachBatch sink)")
      if (df.isEmpty) df // nothing to lay out; ranges() has no row
      else {
        val n = if (t.sinkPartitions > 0) t.sinkPartitions
          else df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            .toInt
        val zkey = graft.operators.Layout.zorderKey(df, t.zorderBy,
          t.zorderBits)
        if (t.partitionBy.isEmpty)
          graft.operators.Layout.layoutBy(zkey, n)(df)
        else // z-sort WITHIN each hive directory
          df.withColumn("__z", zkey)
            .repartition(n, t.partitionBy.map(col): _*)
            .sortWithinPartitions(
              (t.partitionBy.map(col) :+ col("__z")): _*)
            .drop("__z")
      }
    }
    else if (t.sinkPartitions <= 0) df
    else if (t.partitionBy.nonEmpty)
      df.repartition(t.sinkPartitions, t.partitionBy.map(
        org.apache.spark.sql.functions.col): _*)
    else df.repartition(t.sinkPartitions)

  /** The one file-sink write (parquet or JSONL): small-files shaping +
    * hive partitioning + write, shared by the batch run and the
    * foreachBatch append path so the two can never diverge. zorder_by
    * on a json sink refuses loudly — Z-order pays off through columnar
    * file min/max stats, which JSON scans don't carry; an accepted-but-
    * useless layout knob would lie about pruning. */
  private def isFileKind(t: TopicSpec): Boolean = Topology.isFileKind(t)

  /** Spark's JSON writer default timestampFormat carries MILLISECOND
    * fractions (.SSSXXX) — a json sink would silently truncate
    * event-time micros through the durable-handoff relay while the
    * same DAG over parquet preserves them. Every engine json WRITE
    * carries the micros format instead; readers stay on Spark's
    * default LENIENT ISO parser (accepts 1-9 fraction digits), so
    * both our own exports and foreign 3-digit jsonl parse back. */
  private[streaming] val JsonTimestampFormat =
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  private def writeFileSink(df: DataFrame, t: TopicSpec, mode: String,
                            path: String): Unit = {
    val w0 = shapeForParquet(df, t).write.mode(mode)
    // `compression:` names a Spark file-sink codec (gzip/zstd/… for
    // json — jsonl.gz is the crawl-dump/export interchange shape;
    // snappy/zstd/… for parquet). Readers need no knob: both sources
    // decompress by extension/footer transparently
    val w = if (t.compression.nonEmpty)
      w0.option("compression", t.compression) else w0
    val pw = if (t.partitionBy.nonEmpty) w.partitionBy(t.partitionBy: _*)
      else w
    t.kind match {
      case "json" =>
        pw.option("timestampFormat", JsonTimestampFormat).json(path)
      case _ => pw.parquet(path)
    }
  }

  /** Read a file-backed sink topic back in its own format (the
    * durable-handoff relay of [[runBatch]]). The read-back carries the
    * frame's own schema, so no hop re-infers: inference would re-type
    * `partition_by` columns from their directory names (a string "01"
    * reads as int 1) and cost one schema job per parquet sink. */
  private def readFileSink(spark: SparkSession, t: TopicSpec,
                           schema: org.apache.spark.sql.types.StructType,
                           path: String): DataFrame = {
    val r = spark.read.schema(schema)
    t.kind match {
      case "json" => r.json(path)
      case _ => r.parquet(path)
    }
  }

  /** Batch run: every file-kind sink topic is written under `outDir`
    * in its own format (parquet or JSONL) — the unified batch path;
    * config topics are resolved once at run start. Returns the names
    * of the sinks WRITTEN under outDir.
    *
    * `kind: memory` sinks are the EPHEMERAL relay in batch exactly as
    * in stream mode (where they are the only chainable kind): the
    * produced PLAN relays to downstream operators — no write, no
    * read-back — and registers as a temp view so a terminal memory
    * sink stays inspectable (`spark.table(name)`, the batch analogue
    * of the stream memory sink). The durable-sink recovery contract is
    * untouched: it only ever covered file/kafka topics, and a memory
    * topic is non-durable by definition in both modes. Consumer-count
    * contract: a relay consumed by ONE operator chains plan-level (the
    * optimizer fuses across the hop — pushdown, codegen; recompute is
    * unobservable with one consumer); a relay consumed by TWO OR MORE
    * is persisted (MEMORY_AND_DISK) so every consumer reads the SAME
    * materialization — without the persist, a nondeterministic
    * upstream (unseeded sample, unordered tie-break) could hand each
    * consumer a different row set, which the write-through relay could
    * never do. Residual caveat, same as any Spark persist: lost
    * partitions recompute on executor failure.
    *
    * `shuffle_partitions:` holds for the run only. Every file sink is
    * written before it returns; a terminal memory sink stays a lazy
    * view, so it computes later, at the session's own partitions. */
  def runBatch(spark: SparkSession, outDir: String)
      : Seq[String] = withShufflePartitions(spark) {
    // each file sink is written AT WIRING TIME (topological order) and
    // the read-back relays to downstream operators — every DAG stage is
    // computed exactly once, whatever the chain depth
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    // consumer COUNT per topic (not a set): >= 2 consumers of a memory
    // relay switch it from plan-level chaining to a shared persist
    val consumerCount = operators.flatMap(_.sources)
      .groupBy(identity).view.mapValues(_.size).toMap
    wire(spark, batchSource(spark, _), operators,
      chainable = _ => true,
      relay = (sinkTopic, df) =>
        if (sinkTopic.kind == "memory") {
          val log = org.slf4j.LoggerFactory.getLogger(getClass)
          // the view is session-global and ephemeral: shadowing an
          // existing registration (a base-table view, a previous run's
          // relay) is legal but worth a loud trace — a memory topic
          // named like a catalog table silently rebinds every later
          // spark.table() in the session
          if (df.sparkSession.catalog.tableExists(sinkTopic.name))
            log.warn(s"memory sink '${sinkTopic.name}' replaces an " +
              "existing temp view of the same name for this session")
          // a terminal memory sink in batch computes NOTHING by itself
          // (the view is lazy); pre-r15 it was accidentally written as
          // parquet, so make the semantics change loud instead of a
          // silent no-op (Main refuses outright when NO sink of the
          // whole run is durable)
          val nConsumers = consumerCount.getOrElse(sinkTopic.name, 0)
          if (nConsumers == 0)
            log.warn(s"memory sink '${sinkTopic.name}' has no consumer " +
              "in this topology: batch mode registers it as a LAZY temp " +
              "view only — nothing is computed or written; use a " +
              "parquet/json sink for durable batch output")
          // >= 2 consumers: share ONE materialization (see scaladoc) —
          // a lazy plan handed to two sinks recomputes per action and a
          // nondeterministic upstream would let the sinks disagree
          val shared =
            if (nConsumers >= 2)
              df.persist(org.apache.spark.storage.StorageLevel
                .MEMORY_AND_DISK)
            else df
          shared.createOrReplaceTempView(sinkTopic.name)
          shared
        } else {
          // kafka sinks have no batch path here: writeFileSink's
          // format match would silently write $outDir/<topic> as
          // PARQUET — no broker produce, no key/codec framing — while
          // the topic got reported as a written durable sink and
          // downstream kafka consumers saw nothing
          require(sinkTopic.kind != "kafka",
            s"sink topic '${sinkTopic.name}': kafka sinks are not " +
              "supported in batch mode (runBatch writes file sinks " +
              "under outDir) — run the topology in stream mode, or " +
              "point the sink at a parquet/json topic")
          val path = s"$outDir/${sinkTopic.name}"
          writeFileSink(df, sinkTopic, "overwrite", path)
          names += sinkTopic.name
          // a terminal sink relays nothing: skip the read-back
          if (consumerCount.contains(sinkTopic.name))
            readFileSink(spark, sinkTopic, df.schema, path)
          else df
        })
    names.toSeq
  }

  /** Kafka routing + producer-side codec shared by both sink paths:
    * partition_selector routes sink records — the named column becomes
    * the Kafka message key (keyed hashing picks the partition, the
    * reference Topic's map_partition, makinage/operator.py:26-73) — and
    * the topic codec encodes `value` (makinage/operator.py:244-251). */
  private def frameForSink(df: DataFrame, sinkTopic: TopicSpec)
      : DataFrame = {
    val routed =
      if (sinkTopic.partitionSelector.nonEmpty && sinkTopic.kind == "kafka")
        df.withColumn("key", org.apache.spark.sql.functions
          .col(sinkTopic.partitionSelector).cast("string").cast("binary"))
      else df
    if (sinkTopic.kind == "kafka") Topology.encodeFrame(routed, sinkTopic)
    else routed
  }

  /** Bounded write of one micro-batch to a sink topic (the foreachBatch
    * path used by dynamically-configured operators). Delivery is
    * AT-LEAST-ONCE on micro-batch retry — the foreachBatch contract
    * (no file-sink transaction log here); exactly-once sinks belong to
    * the static path. */
  private def writeBatchSink(df: DataFrame, sinkTopic: TopicSpec): Unit = {
    val framed = frameForSink(df, sinkTopic)
    sinkTopic.kind match {
      case "kafka" => framed.write.format("kafka")
        .options(Topology.kafkaSinkOptions(sinkTopic))
        .save()
      case "parquet" | "json" =>
        writeFileSink(framed, sinkTopic, "append", sinkTopic.path)
      case other =>
        throw new IllegalArgumentException(s"dynamic-op sink kind: $other")
    }
  }

  /** Stream run: each sink becomes a streaming query (kafka sink for kafka
    * topics, parquet sink for file topics). Caller owns awaiting.
    *
    * Operators WITHOUT a config topic plan once and run fully
    * incrementally. Operators WITH one run through foreachBatch: each
    * micro-batch re-resolves the config topic's newest record and
    * re-applies the factory to the batch — a factor published mid-stream
    * is live in the next micro-batch, no restart (the reference's Consul
    * watch → per-event config join, at batch granularity).
    *
    * config_topic restrictions (validated at wiring time where
    * possible): exactly one source; kafka/parquet sinks (at-least-once
    * on retry, see [[writeBatchSink]]); STATELESS factories only — the
    * per-batch re-wire hands the factory a bounded batch frame, so a
    * stateful streaming op (flatMapGroupsWithState, e.g. [[ops.Roll]])
    * would restart its state every micro-batch; keep stateful operators
    * on the static path. `shuffle_partitions:` is restored once the
    * queries have started; they keep it ([[withShufflePartitions]]). */
  def runStream(spark: SparkSession, checkpointRoot: String)
      : Seq[StreamingQuery] = withShufflePartitions(spark) { try {
    val (dynamic, static) = operators.partition(_.configTopic.nonEmpty)
    // over ALL operators: the wire() call below only sees the static
    // subset, which would let two dynamic operators (or a static plus
    // a dynamic) race on one sink topic unchecked
    requireSingleProducers(operators)
    // Validate EVERY dynamic operator's wiring up front, before any
    // query (static or dynamic) starts: these used to throw from
    // streamSource / the per-op requires only when the dynamic query
    // itself wired — AFTER the static queries had already started, so a
    // config error left half a topology running (round-8 verdict #6).
    dynamic.foreach { op =>
      // one streaming source drives the foreachBatch re-wire;
      // multi-source dynamic operators would need per-batch alignment
      // across sources — out of the micro-batch contract
      require(op.sources.size == 1,
        s"operator ${op.name}: config_topic needs exactly one source " +
          s"(got ${op.sources.size})")
      val src = topic(op.sources.head)
      require(src.kind != "memory",
        s"operator ${op.name}: a config_topic operator wires " +
          "independently and cannot consume memory relays — source " +
          s"topic '${src.name}' is kind memory; chain through a " +
          "parquet/json/kafka topic for a durable handoff")
      // the config topic itself must resolve NOW: an undeclared name
      // or a kind latestRecord cannot read would otherwise throw only
      // inside the foreachBatch closure at the first micro-batch —
      // after every static query had started (the half-running-topology
      // failure this whole block exists to prevent)
      val ct = topic(op.configTopic)
      require(ct.kind == "parquet" || ct.kind == "kafka",
        s"operator ${op.name}: config_topic '${ct.name}' must be " +
          s"parquet or kafka (latest-record read), got '${ct.kind}'")
      op.sinks.map(topic).foreach { st =>
        require(st.kind == "kafka" || st.kind == "parquet" ||
            st.kind == "json",
          s"operator ${op.name}: config_topic sinks must be " +
            s"kafka/parquet/json, got '${st.kind}' for topic ${st.name}")
      }
    }
    // Resolve every dynamic factory (Class.forName) BEFORE any query
    // starts: it used to load only when the dynamic query itself
    // wired — after the static queries had started — so a typo'd FQCN
    // left a half-running topology (round-9 advice). The dynamic
    // SOURCE frame cannot be resolved this early: a dynamic operator
    // legitimately consumes a static producer's parquet sink topic
    // whose directory only exists once that static query has started
    // (the parquet-relay composition test) — a source failure is
    // instead cleaned up by the catch-and-stop below.
    val resolvedDynamic = dynamic.map { op =>
      (op, Topology.loadFactory(op.factory))
    }
    // wire() is strict: it fully composes every static plan (throwing
    // on any wiring error) before the first start() below
    val wired = wire(spark, streamSource(spark, _), static,
      chainable = _.kind == "memory")
    val started =
      scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    // a CONSUMED memory relay is already plan-composed into every
    // downstream query; starting its own format("memory") query too
    // would (a) run the upstream sub-plan in a second concurrent query
    // per trigger and (b) buffer every relay row in driver memory for
    // the stream's life — double compute plus an eventual driver OOM on
    // a high-volume relay. Terminal memory sinks keep their query (it
    // is their only materialization, the inspectable-by-name contract);
    // `inspect: true` on the topic opts an intermediate relay back in
    // for debugging.
    val consumedNames = operators.flatMap(_.sources).toSet
    // the checks a factory relaxed are named once here, not logged by
    // Spark as a full AnalysisException on every start()
    AnalysisConf.whileStarting(spark) { try {
    wired.foreach { case (sinkTopic, df) =>
      if (sinkTopic.kind == "memory" &&
          consumedNames.contains(sinkTopic.name) && !sinkTopic.inspect) {
        // relay-only: downstream queries own the plan
      } else {
        val shaped =
          if (isFileKind(sinkTopic))
            shapeForParquet(frameForSink(df, sinkTopic), sinkTopic)
          else frameForSink(df, sinkTopic)
        // memory sinks are EPHEMERAL (Spark refuses checkpoint recovery
        // for them) — give each run a fresh checkpoint dir so a
        // restarted topology's durable sinks recover from their stable
        // checkpoints while the inspection/relay memory queries simply
        // start over; a shared fixed dir would fail the whole restart
        val ckpt =
          if (sinkTopic.kind == "memory")
            s"$checkpointRoot/${sinkTopic.name}_" +
              java.util.UUID.randomUUID().toString
          else s"$checkpointRoot/${sinkTopic.name}"
        val w00 = shaped.writeStream
          .option("checkpointLocation", ckpt)
        // file-sink compression codec, same knob as the batch path
        val w0 = if (sinkTopic.compression.nonEmpty && isFileKind(sinkTopic))
          w00.option("compression", sinkTopic.compression) else w00
        val w =
          if (sinkTopic.partitionBy.nonEmpty && isFileKind(sinkTopic))
            w0.partitionBy(sinkTopic.partitionBy: _*)
          else w0
        started += (sinkTopic.kind match {
          case "kafka" => w.format("kafka")
            .options(Topology.kafkaSinkOptions(sinkTopic))
          case "parquet" => w.format("parquet")
            .option("path", sinkTopic.path)
          case "json" => w.format("json")
            .option("timestampFormat", JsonTimestampFormat)
            .option("path", sinkTopic.path)
          case "memory" => w.format("memory").queryName(sinkTopic.name)
          case other =>
            throw new IllegalArgumentException(s"sink kind: $other")
        }).start()
      }
      }
    resolvedDynamic.foreach { case (op, factory) =>
      val sinkTopics = op.sinks.map(topic)
      started += streamSource(spark, topic(op.sources.head)).writeStream
        .option("checkpointLocation", s"$checkpointRoot/op_${op.name}")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val outs = factory(configFor(spark, op), Seq(batch))
          require(outs.size == sinkTopics.size,
            s"operator ${op.name}: ${outs.size} outputs for " +
              s"${sinkTopics.size} declared sinks")
          sinkTopics.zip(outs).foreach { case (st, out) =>
            writeBatchSink(out, st)
          }
        }
        .start()
    }
    started.toSeq
    } catch { case t: Throwable =>
      // a start() threw mid-way: stop whatever already started, so
      // even an unanticipated startup failure cannot leave a
      // half-running topology behind the thrown error
      started.foreach(q => try q.stop() catch { case _: Throwable => () })
      throw t
    } }
  } finally {
    // factories may have relaxed analysis-time-only session confs for
    // their query's start(); restore the user's values before handing
    // the session back — ALSO when a start() throws mid-way, or the
    // relaxation would leak for the rest of the session
    AnalysisConf.restoreAll(spark)
  } }
}

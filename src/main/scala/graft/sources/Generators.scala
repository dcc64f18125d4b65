package graft.sources

import java.time.Instant

import scala.util.Random

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{CatalogEvent, ShoppingCartEvent}

/** Deterministic event generators — the Spark-first recast of the
  * reference's custom `SourceFunction`s (S5-S8,
  * reference ShoppingCartEventsGenerator.scala:43-191).
  *
  * The reference emits one random event per `sleepMillisPerEvent` with
  * event time = `baseInstant + id` seconds; we generate the identical
  * sequence eagerly with a seeded RNG (reproducible across runs/cluster
  * sizes) and expose it as a batch Dataset or feed it through a
  * `MemoryStream` for streaming tests. Per-source watermark emission
  * (reference ShoppingCartEventsGenerator.scala:142-144) maps to
  * `withWatermark` on the resulting stream (SURVEY.md §2.6 M5).
  */
object Generators {

  private val users = Vector("Bob", "Alice", "Sam", "Tom", "Rob")

  /** Deterministic twin of `ShoppingCartEventsGenerator`
    * (reference ShoppingCartEventsGenerator.scala:63-76): `n` add-events,
    * event time = base + id seconds, user drawn seeded-uniform, qty 0-9.
    */
  def shoppingCartEvents(n: Int, base: Instant, seed: Long = 42L,
      skuPrefix: String = "", generateRemoved: Boolean = false): Seq[ShoppingCartEvent] = {
    val rnd = new Random(seed)
    (0 until n).map { id =>
      val kind = if (generateRemoved && rnd.nextBoolean()) "removed" else "add"
      ShoppingCartEvent(
        kind,
        users(rnd.nextInt(users.size)),
        skuPrefix + new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString,
        rnd.nextInt(10),
        base.plusSeconds(id.toLong))
    }
  }

  /** Deterministic twin of `CatalogEventsGenerator`
    * (reference ShoppingCartEventsGenerator.scala:177-191).
    */
  def catalogEvents(n: Int, base: Instant, seed: Long = 43L): Seq[CatalogEvent] = {
    val rnd = new Random(seed)
    (0 until n).map { id =>
      CatalogEvent(
        users(rnd.nextInt(users.size)),
        base.plusSeconds(id.toLong),
        new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString)
    }
  }

  /** S4: socket text stream — `socketTextStream(host, port)` →
    * Structured Streaming socket source (untyped line stream).
    */
  def socketLines(spark: SparkSession, host: String, port: Int) =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** Kafka source twin (BASELINE's north star names "Kafka/socket sources";
    * the reference itself has no Kafka — this is the contract's gap).
    * Standard Structured Streaming Kafka reader; value payloads are
    * JSON-projected to typed cart events by [[kafkaValueToCartEvents]].
    *
    * At scale: one Spark input partition per Kafka topic-partition, offsets
    * tracked in the checkpoint (exactly-once with idempotent/transactional
    * sinks) — all handled by the connector; nothing here collects or
    * re-shuffles the stream.
    *
    * Sandbox limit: no spark-sql-kafka connector jar ships in this
    * environment, so `.load()` here fails with "Failed to find data
    * source: kafka" (asserted as the documented negative test); the
    * projection — the part that is ours — is unit-tested against a
    * MemoryStream carrying the exact Kafka wire schema, and the socket
    * source test stands in as the live-transport representative.
    */
  def kafkaCartEvents(spark: SparkSession, bootstrapServers: String,
      topic: String, startingOffsets: String = "earliest"): Dataset[ShoppingCartEvent] =
    kafkaValueToCartEvents(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        .load())

  /** Projection from the Kafka source wire schema (key, value, topic,
    * partition, offset, timestamp, timestampType) to typed cart events:
    * JSON-decode the value, event time from the payload with the broker
    * ingestion timestamp as fallback. Pure column expressions — stays in
    * codegen, no UDFs.
    */
  def kafkaValueToCartEvents(
      kafka: org.apache.spark.sql.DataFrame): Dataset[ShoppingCartEvent] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    implicit val enc: org.apache.spark.sql.Encoder[ShoppingCartEvent] =
      org.apache.spark.sql.Encoders.product[ShoppingCartEvent]
    val payload = StructType(Seq(
      StructField("eventType", StringType), StructField("userId", StringType),
      StructField("sku", StringType), StructField("quantity", IntegerType),
      StructField("time", TimestampType)))
    kafka
      .select(from_json(col("value").cast("string"), payload).as("j"),
        col("timestamp"))
      // malformed / non-JSON / schema-mismatched payloads parse to a null
      // struct (or one with no identifying fields): DROP them rather than
      // fabricating phantom ("add", null, null, 0) events that would
      // silently pollute downstream aggregations with a null key
      .where(col("j").isNotNull && col("j.userId").isNotNull &&
        col("j.sku").isNotNull)
      .select(
        coalesce(col("j.eventType"), lit("add")).as("eventType"),
        col("j.userId").as("userId"),
        col("j.sku").as("sku"),
        coalesce(col("j.quantity"), lit(0)).as("quantity"),
        coalesce(col("j.time"), col("timestamp")).as("time"))
      .as[ShoppingCartEvent]
  }

  /** Streaming twin of S5-S8: a rate-source-driven shopping cart stream.
    * Events are derived arithmetically from the rate source's `value`
    * (NOT the same sequence as the seeded batch generator — same shape,
    * different draw). Use for demos; tests prefer MemoryStream.
    */
  def shoppingCartStream(spark: SparkSession, base: Instant, rowsPerSecond: Int = 10) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(
        lit("add").as("eventType"),
        element_at(typedLit(users), (pmod(col("value"), lit(users.size)) + 1).cast("int"))
          .as("userId"),
        concat(lit("sku_"), col("value")).as("sku"),
        pmod(col("value"), lit(10)).cast("int").as("quantity"),
        (lit(base.getEpochSecond) + col("value")).cast("timestamp").as("time"))
      .as[ShoppingCartEvent]
  }
}

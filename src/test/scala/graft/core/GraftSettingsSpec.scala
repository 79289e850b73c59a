package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Env-config surface parity with the reference's settings.py
  * (src/sinker/settings.py:13-41): names, defaults, unit conversions,
  * and argument-over-env precedence. */
class GraftSettingsSpec extends AnyFunSuite with Matchers {

  test("defaults match the reference's settings.py") {
    val s = new GraftSettings(Map.empty)
    s.definitionsPath shouldBe "."
    s.replicationSlot shouldBe "sinker"
    s.pollIntervalMs shouldBe 10000L // SINKER_POLL_INTERVAL=10 (s)
    s.esChunkSize shouldBe 100
    s.sinkMaxRetries shouldBe 5
    s.sinkTimeoutMs shouldBe 60000 // ELASTICSEARCH_TIMEOUT=60 (s)
    s.snapshotBuckets shouldBe 64
    s.snapshotMaxDeltas shouldBe 8
  }

  test("environment overrides use the reference's variable names") {
    val s = new GraftSettings(Map(
      "SINKER_REPLICATION_SLOT" -> "my_slot",
      "SINKER_POLL_INTERVAL" -> "3",
      "ELASTICSEARCH_CHUNK_SIZE" -> "250",
      "ELASTICSEARCH_MAX_RETRIES" -> "2",
      "GRAFT_SNAPSHOT_BUCKETS" -> "16",
      "GRAFT_SNAPSHOT_MAX_DELTAS" -> "4"))
    s.replicationSlot shouldBe "my_slot"
    s.pollIntervalMs shouldBe 3000L
    s.esChunkSize shouldBe 250
    s.sinkMaxRetries shouldBe 2
    s.snapshotBuckets shouldBe 16
    s.snapshotMaxDeltas shouldBe 4
  }

  test("PGCHUNK_SIZE: reference default 2000, env override, scan partitions") {
    val d = new GraftSettings(Map.empty)
    d.pgChunkSize shouldBe 2000 // settings.py:50
    d.pgScanPartitions shouldBe 32
    d.sinkerSchema shouldBe "public" // settings.py:12,19
    new GraftSettings(Map("SINKER_SCHEMA" -> "app")).sinkerSchema shouldBe "app"
    val s = new GraftSettings(Map(
      "PGCHUNK_SIZE" -> "500", "GRAFT_PG_SCAN_PARTITIONS" -> "8"))
    s.pgChunkSize shouldBe 500
    s.pgScanPartitions shouldBe 8
    d.pgPartitionColumns shouldBe Map.empty
    new GraftSettings(Map(
      "GRAFT_PG_PARTITION_COLUMNS" -> "person:person_id, orders:o_id"))
      .pgPartitionColumns shouldBe Map(
        "person" -> "person_id", "orders" -> "o_id")
    intercept[IllegalArgumentException](new GraftSettings(Map(
      "GRAFT_PG_PARTITION_COLUMNS" -> "justatable")).pgPartitionColumns)
  }

  test("ES auth/scheme parity with es.py: user:pass -> Basic header") {
    val none = new GraftSettings(Map.empty)
    none.esAuthHeader shouldBe None // no-auth default unchanged
    none.esScheme shouldBe "http"
    val s = new GraftSettings(Map(
      "ELASTICSEARCH_USER" -> "elastic",
      "ELASTICSEARCH_PASSWORD" -> "s3cret",
      "ELASTICSEARCH_SCHEME" -> "https",
      "ELASTICSEARCH_HOST" -> "es.internal",
      "ELASTICSEARCH_PORT" -> "9243"))
    val expected = "Basic " + java.util.Base64.getEncoder
      .encodeToString("elastic:s3cret".getBytes("UTF-8"))
    s.esAuthHeader shouldBe Some(expected)
    // host/port/scheme fold into the endpoint URL (es.py:15-19);
    // GRAFT_ES_URL still wins when set
    s.esUrl shouldBe Some("https://es.internal:9243")
    new GraftSettings(Map(
      "GRAFT_ES_URL" -> "http://override:9200",
      "ELASTICSEARCH_HOST" -> "es.internal"))
      .esUrl shouldBe Some("http://override:9200")
  }

  test("explicit argument beats env: Main-style pollMs resolution") {
    val s = new GraftSettings(Map("SINKER_POLL_INTERVAL" -> "3"))
    // the CLI resolution rule: arg > env > default
    val cliArg: Option[String] = Some("500")
    cliArg.map(_.toLong).getOrElse(s.pollIntervalMs) shouldBe 500L
    (None: Option[String]).map(_.toLong).getOrElse(s.pollIntervalMs) shouldBe 3000L
  }

  test("settings flow into the sink constructor knobs") {
    val s = new GraftSettings(Map("ELASTICSEARCH_MAX_RETRIES" -> "1"))
    val sink = new graft.sink.BucketedParquetIndex(
      graft.SparkSpec.spark, "knobs", new org.apache.spark.sql.types.StructType(),
      java.nio.file.Files.createTempDirectory("graft-knobs").toString,
      retries = s.sinkMaxRetries)
    sink.maxRetries shouldBe 1
  }
}

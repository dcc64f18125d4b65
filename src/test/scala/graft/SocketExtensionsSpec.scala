package graft

import java.io.PrintWriter
import java.net.ServerSocket

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Partitioning
import graft.sources.Generators
import graft.streaming.StreamingOps

/** S4 live socket source, salted join, and SQL function registration. */
class SocketExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("S4 socket source drives streaming word count " +
      "(SocketTextStreamWordCount.scala:59-63)") {
    val server = new ServerSocket(0)
    val port = server.getLocalPort
    val feeder = new Thread(() => {
      val sock = server.accept()
      val w = new PrintWriter(sock.getOutputStream)
      w.println("to be or not to be")
      w.println("be")
      w.flush()
      Thread.sleep(3000) // keep the connection open while the query polls
      w.close(); sock.close(); server.close()
    })
    feeder.setDaemon(true)
    feeder.start()
    val q = StreamingOps.wordCount(Generators.socketLines(spark, "localhost", port))
      .writeStream.format("memory").queryName("sock_wc").outputMode("update").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      var ok = false
      while (!ok && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        ok = spark.table("sock_wc").as[(String, Long)].collect().contains(("be", 3L))
      }
      assert(ok, "expected ('be', 3) from the socket stream")
    } finally q.stop()
  }

  test("salted join equals the unsalted join on skewed data") {
    // one hot key: 900 of 1000 fact rows hit 'hot'
    val fact = (1 to 1000)
      .map(i => (if (i <= 900) "hot" else s"k${i % 7}", i)).toDF("k", "v")
    val dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).groupBy("k", "name").count()
    val salted = Partitioning.saltedJoin(fact, dim, "k", 8).groupBy("k", "name").count()
    assert(salted.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
      plain.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet)
  }

  test("GraftExtensions registers the kernels as SQL functions") {
    val s2 = spark.newSession() // isolated registry, shared context
    graft.functions.GraftExtensions.install(s2)
    val r = s2.sql(
      """SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       array_eq_count(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS c,
        |       byte_histogram(cast('aa' as binary), 16)[6] AS h,
        |       simhash64(array(0L)) AS s
        |""".stripMargin).collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)
    assert(r.getInt(2) == 2) // 'a' = 0x61 → bin 6
    assert(r.getLong(3) == 0L)
    // the registration is session-scoped: the shared session is untouched
    assertThrows[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT array_dot(array(1.0d), array(1.0d))").collect()
    }
  }

  test("GraftExtensions: a wrong-typed argument fails analysis for every SQL kernel") {
    val s2 = spark.newSession()
    graft.functions.GraftExtensions.install(s2)
    val calls = Seq(
      "array_dot(1, 2)", "simhash64('x')", "byte_histogram('x', 4)",
      "array_eq_count(array(1.0d), array(2.0d))", "deflate_ratio(1)",
      "token_ngrams('x', 2)", "token_lcs_len(array(1), array(2))",
      "nfc_normalize(array('a'))", "wav_frame_rms('x', 4)", "ppm_patch_means('x', 2)")
    calls.foreach { c =>
      val e = intercept[org.apache.spark.sql.AnalysisException](s2.sql(s"SELECT $c").collect())
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$c: ${e.getMessage}")
    }
  }

  test("GraftExtensions: an integer argument outside the INT range is rejected") {
    val s2 = spark.newSession()
    graft.functions.GraftExtensions.install(s2)
    // 4294967304 = 2^32 + 8: read as an Int it would silently be 8 bins
    intercept[IllegalArgumentException] {
      s2.sql("SELECT byte_histogram(cast('aa' as binary), 4294967304)").collect()
    }
    assert(s2.sql("SELECT byte_histogram(cast('aa' as binary), 8L)")
      .collect().head.getSeq[Int](0).sum == 2)
  }
}

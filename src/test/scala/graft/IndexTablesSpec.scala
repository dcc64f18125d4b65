package graft

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.IndexTables

/** Standing-index identity and the cross-process build fence: an index is
  * keyed by its source files, and a dead build's marker is reclaimed.
  */
class IndexTablesSpec extends SparkSpec {
  import spark.implicits._

  /** Write `df` as the single parquet file `target`, replacing any file
    * already there (same path, new contents).
    */
  private def writeOneFile(df: DataFrame, target: JPath): Unit = {
    val tmp = Files.createTempDirectory("graft-onefile").resolve("t")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private val baseDir = sys.env.getOrElse("GRAFT_INDEX_DIR",
    s"${System.getProperty("java.io.tmpdir")}/graft-index")
  private lazy val fs =
    new Path(baseDir).getFileSystem(spark.sessionState.newHadoopConf())

  test("ident(prefix, source): keyed on the source files, read without a job") {
    val file = Files.createTempDirectory("graft-ident").resolve("t.parquet")
    writeOneFile(spark.range(0, 50).toDF("id"), file)
    val df = spark.read.parquet(file.toString)
    val (name, jobs) = jobsDuring(IndexTables.ident("p", df))
    assert(jobs == 0, s"ident ran $jobs job(s)")
    assert(name.startsWith("graft_idx_p_"))
    assert(IndexTables.ident("p", spark.read.parquet(file.toString)) == name)
    // a derivation of the same files shares the key: the prefix must
    // tell derivations apart
    assert(IndexTables.ident("p", df.where(col("id") > 3).select("id")) == name)
    assert(IndexTables.ident("q", df) != name)
    // same path, same row count, new contents: a new key
    writeOneFile(spark.range(100, 150).toDF("id"), file)
    spark.catalog.refreshByPath(file.toString)
    assert(IndexTables.ident("p", spark.read.parquet(file.toString)) != name)
    // a source that is not a file scan has no file identity
    val e = intercept[IllegalArgumentException] {
      IndexTables.ident("p", Seq(1L, 2L).toDF("id"))
    }
    assert(e.getMessage.contains("file scan"))
  }

  test("an in-place edit of documents rebuilds the standing BM25 index " +
      "(same row count)") {
    val dir = Files.createTempDirectory("graft-stale")
    val docs = dir.resolve("documents.parquet")
    val filler = Seq("alpha beta", "gamma delta epsilon", "beta gamma",
      "delta alpha zeta", "epsilon")
    def corpus(doc7: String): DataFrame =
      (0L until 40L).map { i =>
        (i, if (i == 7L) doc7 else if (i % 3 == 0) "stream " + filler((i % 5).toInt)
          else filler((i % 5).toInt))
      }.toDF("doc_id", "text")
    writeOneFile(corpus("alpha beta"), docs)
    val q = SparkEntry.queries("q_bm25_topk")
    def top(): Set[Long] =
      q(spark, dir.toString).select("doc_id").as[Long].collect().toSet
    val before = top()
    assert(before.nonEmpty && !before(7L))
    val name = IndexTables.ident("bm25pst1", Tables.documents(spark, dir.toString))
    writeOneFile(corpus("stream join stream join"), docs)
    spark.catalog.refreshByPath(docs.toString)
    assert(Tables.documents(spark, dir.toString).count() == 40L)
    try assert(top()(7L), "the edited document must reach the top-k")
    finally {
      val edited = IndexTables.ident("bm25pst1", Tables.documents(spark, dir.toString))
      Seq(name, edited).foreach { n =>
        IndexTables.drop(spark, s"${n}_postings_b8")
        IndexTables.drop(spark, s"${n}_stats")
      }
    }
  }

  /** Write a build marker for index `name` owned by `pid` on this host. */
  private def marker(name: String, pid: Long): Path = {
    fs.mkdirs(new Path(baseDir))
    val m = new Path(s"$baseDir/$name._building")
    val out = fs.create(m, true)
    try out.write(s"$pid@${IndexTables.markerHost}".getBytes("UTF-8"))
    finally out.close()
    m
  }

  test("a build marker left by a dead process on this host is reclaimed") {
    val name = "graft_idx_reclaim_test"
    IndexTables.drop(spark, name)
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val m = marker(name, child.pid())
    val before = IndexTables.buildsRun
    assert(IndexTables.plain(spark, name)(Seq((1L, "x")).toDF("id", "v"))
      .count() == 1L)
    assert(IndexTables.buildsRun == before + 1)
    assert(!fs.exists(m))
    assert(fs.globStatus(new Path(s"$m.stale-*")).isEmpty,
      "the reclaimed marker must not be left behind")
    IndexTables.drop(spark, name)
  }

  test("a build marker naming a live process on this host is refused") {
    val name = "graft_idx_live_owner_test"
    IndexTables.drop(spark, name)
    val child = new ProcessBuilder("sleep", "60").start()
    val m = marker(name, child.pid())
    try {
      val e = intercept[IllegalArgumentException] {
        IndexTables.plain(spark, name)(Seq((1L, "x")).toDF("id", "v"))
      }
      assert(e.getMessage.contains("in progress"))
      assert(fs.exists(m), "a live owner's marker must stay in place")
    } finally {
      child.destroy()
      IndexTables.drop(spark, name)
    }
  }
}

package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Link-graph analytics for corpus curation. Web-scale pre-training
  * pipelines routinely rank pages by link centrality (PageRank/harmonic
  * family) and feed the score into quality filtering and sampling weights
  * — the reference's stream-analytics surface has no graph operator, but a
  * 100 TB web corpus pipeline is incomplete without one.
  *
  * Scale shape: the rank vector is NODE-sized and the edge list is
  * EDGE-sized; every iteration is one narrow rank ⋈ adjacency join + one
  * dst-keyed aggregate — the Pregel-without-Pregel form. The SQL edge
  * frame becomes src-keyed adjacency lists once, and the rank RDD shares
  * their partitioner, so a step shuffles only its contributions.
  */
object Graph {

  /** Weighted transition edges from an ordered event log: consecutive
    * events of the same `userCol` (ordered by `orderCol`, ties by
    * `tieCol`) contribute one (src, dst) count. The per-user lead() is a
    * user-partitioned window — shuffles once on the user key, never a
    * global sort — and the (src, dst) aggregate is map-side combined.
    */
  def transitionEdges(events: DataFrame, nodeCol: String, userCol: String,
      orderCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(orderCol), col(tieCol))
    events
      .select(col(userCol), col(orderCol), col(tieCol),
        col(nodeCol).as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .where(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("weight"))
  }

  /** Weighted PageRank with uniform teleport and proper dangling-mass
    * redistribution, `iterations` synchronous steps from a uniform start:
    *
    *   r'(v) = (1-d)/N + d · ( Σ_{u→v} r(u)·w(u,v)/outdeg(u) + dang/N )
    *
    * where `dang` = Σ r(u) over nodes with no out-edges. The node set is
    * src ∪ dst; `src` and `dst` must share one type. Deterministic given
    * the edge list, so a fixed-iteration run is DuckDB-oracle-able with
    * unrolled per-iteration CTEs (q_pagerank); returns (node, rank) with
    * rank rounded to 6 — the usual cross-engine float-sum guard. As in
    * an SQL equi-join, a null key never matches: an edge from a null
    * `src` carries no rank and rank sent to a null `dst` is lost, while
    * a null endpoint is still a node.
    *
    * The edge frame is read once into an RDD of adjacency lists keyed by
    * `src` (each out-edge carries its share w/outdeg), hash-partitioned
    * by the partitioner the rank RDD keeps, so every step's ranks ⋈
    * adjacency is narrow and its one shuffle is the dst-keyed
    * `reduceByKey` of the contributions. The dangling mass needs no
    * driver round trip: a dangling node sends its rank to one [[Cell]]
    * per partition, each cell routed to its own partition, so every
    * partition's reduce output holds the whole `dang`; every node also
    * sends itself 0.0, so a node with no in-links keeps its row. Node-
    * and edge-sized state, no single partition, no per-step job: the
    * build runs the edge frame's stages and one node-count job, and the
    * steps run inside the caller's action.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val nodeType = edges.schema("src").dataType
    require(edges.schema("dst").dataType == nodeType,
      s"pageRank: src and dst must share one type, got $nodeType and " +
        edges.schema("dst").dataType)
    val spark = edges.sparkSession
    val byNode = new HashPartitioner(
      spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt)
    val cells = (0 until byNode.numPartitions).map(Cell(_))
    // node → out-edges as (dst, share); every endpoint gets a row
    val adj = edges.select(col("src"), col("dst"), col("weight").cast("double"))
      .rdd.flatMap { r =>
        val (u, v) = (r.get(0), r.get(1))
        val out = if (u == null) Nil else List(v -> r.getDouble(2))
        Iterator(u -> out, v -> Nil)
      }
      .reduceByKey(byNode, (a, b) => b ::: a)
      .mapValues { out =>
        val outdeg = out.map(_._2).sum
        out.map { case (v, w) => v -> w / outdeg }.toArray
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = adj.count().toDouble
    var ranks: RDD[(Any, Double)] = adj.mapValues(_ => 1.0 / n)
    for (_ <- 1 to iterations) {
      ranks = adj.join(ranks)
        .flatMap { case (u, (out, r)) =>
          val sent: Iterator[(Any, Double)] =
            if (out.isEmpty) cells.iterator.map(_ -> r)
            else out.iterator.collect { case (v, s) if v != null => v -> r * s }
          Iterator(u -> 0.0) ++ sent
        }
        .reduceByKey(byNode, _ + _)
        .mapPartitions({ it =>
          val sums = it.toArray
          val m = sums.collectFirst { case (Cell(_), c) => c }.getOrElse(0.0)
          sums.iterator.collect { case (v, c) if !v.isInstanceOf[Cell] =>
            v -> ((1.0 - damping) / n + damping * (c + m / n))
          }
        }, preservesPartitioning = true)
    }
    val schema = StructType(Seq(StructField("node", nodeType),
      StructField("rank", DoubleType, nullable = false)))
    spark.createDataFrame(ranks.map { case (v, r) => Row(v, r) }, schema)
      .select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** The dangling-mass cell of partition `p`: its hash is `p`, so a
    * [[HashPartitioner]] routes it to partition `p`.
    */
  private final case class Cell(p: Int) {
    override def hashCode: Int = p
  }
}

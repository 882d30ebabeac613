package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types._

import java.nio.file.Files
import scala.collection.mutable
import scala.util.Random

/** analytics_sf001: ten `SparkEntry` queries over seeded tables shaped
  * like the sf0.01 star schema (1,500 customers, 2,000 parts, 15,000
  * orders, ~60,000 line items, 500 documents over a 31-word vocabulary).
  *
  * Each query is timed on the action that produces the output its oracle
  * checks: the single-file parquet write of graft.Verify. After the
  * measured round, `finish` writes what the launcher needs to check every output:
  * the oracle SQL of the six SQL-checked queries (run by DuckDB over the
  * same tables) and, for the four whose committed oracle is a fixture tied
  * to one fixed data set, an independent sequential replay over the
  * seeded tables (plain loops over in-memory adjacency maps, as the fixtures
  * were made).
  */
object Analytics {
  val Queries: Seq[String] = Seq(
    "q96_setsim_join", "q56_pagerank", "q64_communities", "q59_triangles",
    "q68_kcore", "q198_freq_itemsets", "q184_cut_spans", "q61_random_walks",
    "q88_editdist_join", "q144_truth_discovery")
  val Replayed: Set[String] = Set("q56_pagerank", "q64_communities", "q68_kcore", "q61_random_walks")

  val Words: Vector[String] = Vector("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "data", "column", "join", "small", "big", "customer", "query",
    "order", "group", "stream", "filter", "vector")

  final case class Tables(customer: Seq[Row], part: Seq[Row], orders: Seq[Row],
      lineitem: Seq[Row], documents: Seq[Row])

  /** The seeded tables, `scale` = 1 for the sf0.01 shape. One document in
    * twenty repeats an earlier one with " dup" appended, so the set-sim
    * join and the repeated-span cut have near-duplicates to find. */
  def generate(seed: Long, scale: Double): Tables = {
    val rng = new Random(seed * 7919L + 17L)
    val nCust = math.max(20, (1500 * scale).toInt)
    val nPart = math.max(40, (2000 * scale).toInt)
    val nOrd = math.max(50, (15000 * scale).toInt)
    val nLine = nOrd * 4
    val nDoc = math.max(30, (500 * scale).toInt)
    val segs = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val langs = Vector("en", "zh", "de", "es", "fr")
    val adj = Vector("small", "red", "blue", "large", "steel", "green")
    val noun = Vector("ring", "widget", "bolt", "gear", "panel", "valve")
    val day0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime
    def money(max: Int) = math.round(rng.nextDouble() * max * 100) / 100.0
    val customer = (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
      rng.nextInt(25), money(10000), segs(rng.nextInt(segs.size))))
    val part = (0 until nPart).map(i => Row(i.toLong,
      adj(rng.nextInt(adj.size)) + " " + noun(rng.nextInt(noun.size)),
      "Brand#" + (1 + rng.nextInt(25)), "ECONOMY", 1 + rng.nextInt(50), 900.0 + i / 10.0))
    val orders = (0 until nOrd).map(i => Row(i.toLong, rng.nextInt(nCust).toLong,
      Vector("F", "O", "P")(rng.nextInt(3)), money(500000),
      new java.sql.Timestamp(day0 + rng.nextInt(2500) * 86400000L), prios(rng.nextInt(prios.size))))
    val lineitem = (0 until nLine).map(i => Row(rng.nextInt(nOrd).toLong,
      rng.nextInt(nPart).toLong, rng.nextInt(100).toLong, 1 + i % 7,
      (1 + rng.nextInt(50)).toDouble, money(100000), rng.nextInt(11) / 100.0,
      rng.nextInt(9) / 100.0, Vector("A", "N", "R")(rng.nextInt(3)), Vector("F", "O")(rng.nextInt(2)),
      new java.sql.Timestamp(day0 + rng.nextInt(2800) * 86400000L)))
    val texts = mutable.ArrayBuffer[String]()
    (0 until nDoc).foreach { i =>
      texts += (if (i > 0 && rng.nextInt(20) == 0) texts(rng.nextInt(i)) + " dup"
        else Seq.fill(10 + rng.nextInt(89))(Words(rng.nextInt(Words.size))).mkString(" "))
    }
    val documents = texts.toSeq.zipWithIndex.map { case (text, i) =>
      Row(i.toLong, text, langs(rng.nextInt(langs.size)), "src" + rng.nextInt(20), text.length.toLong)
    }
    Tables(customer, part, orders, lineitem, documents)
  }

  val schemas: Map[String, StructType] = {
    def s(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    Map(
      "customer" -> s("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      "part" -> s("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> s("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      "lineitem" -> s("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
      "documents" -> s("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType))
  }

  // ---- independent replays of the four fixture-checked queries ---------

  /** Distinct co-order pairs (a, b), a != b, both orientations. */
  def coOrder(lineitem: Seq[Row]): Set[(Long, Long)] =
    lineitem.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).valuesIterator.flatMap { grp =>
      val parts = grp.map(_._2).distinct
      for (a <- parts; b <- parts; if a != b) yield (a, b)
    }.toSet

  /** Fixed-point PageRank, 5 rounds, truncating integer arithmetic. */
  def pagerank(edges: Set[(Long, Long)]): Seq[Row] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toVector.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length.toLong
    val outDeg = new Array[Long](nodes.length)
    edges.foreach(e => outDeg(idx(e._1)) += 1)
    val init = 1000000000000L / n
    val base = (15L * init) / 100L
    var rank = Array.fill(nodes.length)(init)
    for (_ <- 0 until 5) {
      val in = new Array[Long](nodes.length)
      edges.foreach { case (s, d) => in(idx(d)) += rank(idx(s)) / outDeg(idx(s)) }
      val dShare = nodes.indices.filter(outDeg(_) == 0L).map(rank(_)).sum / n
      rank = Array.tabulate(nodes.length)(i => base + (85L * (in(i) + dShare)) / 100L)
    }
    nodes.indices.map(i => Row(nodes(i), rank(i)))
  }

  /** Coreness by sequential min-degree peeling (ties to the smallest id). */
  def coreness(edges: Set[(Long, Long)]): Seq[Row] = {
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    edges.foreach { case (a, b) => adj.getOrElseUpdate(a, mutable.Set()) += b }
    val byDeg = mutable.TreeSet[(Int, Long)]() ++ adj.iterator.map { case (v, ns) => (ns.size, v) }
    val out = mutable.ArrayBuffer[Row]()
    var k = 0
    while (byDeg.nonEmpty) {
      val (d, v) = byDeg.head
      byDeg -= ((d, v))
      k = math.max(k, d)
      out += Row(v, k)
      adj(v).foreach { u =>
        byDeg -= ((adj(u).size, u)); adj(u) -= v; byDeg += ((adj(u).size, u))
      }
      adj -= v
    }
    out.toSeq
  }

  /** Synchronous label propagation, 4 rounds, (max votes, min label). */
  def communities(edges: Set[(Long, Long)]): Seq[Row] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => (k, v.toSeq.map(_._2)) }
    var labels = adj.keys.map(k => (k, k)).toMap
    for (_ <- 0 until 4) {
      labels = adj.map { case (v, nbrs) =>
        val votes = nbrs.map(labels).groupBy(identity).map { case (l, o) => (l, o.size) }
        (v, votes.toSeq.maxBy { case (l, c) => (c.toLong, -l) }._1)
      }
    }
    labels.toSeq.map { case (v, l) => Row(v, l) }
  }

  /** Walks of length 8 from every part id divisible by 40; step s picks
    * neighbor xxhash64(s, xxhash64(start, xxhash64(7, 42))) mod degree
    * from the sorted neighbor list; a node without neighbors ends it. */
  def walks(edges: Set[(Long, Long)], part: Seq[Row]): Seq[Row] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => (k, v.toVector.map(_._2).sorted) }
    val starts = part.map(_.getLong(0)).filter(_ % 40 == 0).distinct.sorted
    starts.flatMap { w =>
      val path = mutable.ArrayBuffer(w)
      var cur = w
      var step = 1
      var halted = false
      while (step <= 8 && !halted) {
        adj.get(cur) match {
          case Some(nbrs) =>
            var h = XxHash64Function.hash(7L, LongType, 42L)
            h = XxHash64Function.hash(w, LongType, h)
            h = XxHash64Function.hash(step.toLong, LongType, h)
            cur = nbrs(java.lang.Math.floorMod(h, nbrs.length.toLong).toInt)
            path += cur
          case None => halted = true
        }
        step += 1
      }
      path.toSeq.zipWithIndex.map { case (node, i) => Row(w, i, node) }
    }
  }
}

final class Analytics(spark: SparkSession, o: Main.Opts, tr: Tracer) extends Main.Workload {
  import Analytics._
  import Main._

  private val sf = o.work.resolve("sf")
  private val out = o.work.resolve("out")
  private var tables: Tables = _

  def generate(): Unit = {
    tables = Analytics.generate(o.seed, if (o.tiny) 0.02 else 1.0)
    deleteTree(sf)
    Seq("customer" -> tables.customer, "part" -> tables.part, "orders" -> tables.orders,
      "lineitem" -> tables.lineitem, "documents" -> tables.documents).foreach { case (name, rows) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schemas(name))
        .write.parquet(sf.resolve(s"$name.parquet").toString)
    }
  }

  def round(r: Int): Round = {
    val times = Queries.map { q =>
      q -> time(tr.span(s"entry.$q") {
        graft.SparkEntry.queries(q)(spark, sf.toString)
          .coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      })._2
    }
    Round.of(times.map(_._2).sum, Map("queries" -> (Queries.size.toLong, 0L)), Nil,
      times.map { case (q, t) => s"$q.s" -> t }.toMap)
  }

  /** Writes the expected rows of the replayed queries and the oracle SQL of
    * the others; the launcher compares them with the last round's output. */
  override def finish(): Unit = {
    val co = coOrder(tables.lineitem)
    def put(q: String, rows: Seq[Row], schema: StructType): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(o.work.resolve("expected").resolve(q).toString)
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    put("q56_pagerank", pagerank(co), st("part_id" -> LongType, "rank_fp" -> LongType))
    put("q68_kcore", coreness(co), st("part_id" -> LongType, "coreness" -> IntegerType))
    put("q64_communities", communities(co),
      st("part_id" -> LongType, "community" -> LongType))
    put("q61_random_walks", walks(co, tables.part),
      st("walk_id" -> LongType, "step" -> IntegerType, "node" -> LongType))
    val sql = Queries.filterNot(Replayed).map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    Files.writeString(o.work.resolve("oracle_sql.json"), json(sql))
  }

  override def record(r: Round): Map[String, Double] = r.context + ("analytics_s" -> r.wallS)
}

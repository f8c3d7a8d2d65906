package perfbench

import java.time.{LocalDate, LocalDateTime}

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The operator-heavy query mix over seeded TPC-H-shaped tables plus an
  * events table, in a fixed order (a run is one cold pass, so a
  * seed-permuted order would move the JIT warm-up cost between queries
  * from run to run). Each result is written as parquet, next to its
  * DuckDB oracle SQL, for the check that runs after the JVM exits.
  *
  * Value grids keep the oracle comparison exact on every seed: prices
  * are whole dollars (so q3's per-order revenue has no half-cent tie),
  * every user has a prime number of events and every q1 group a prime
  * row count (so no average ends exactly on a rounding boundary).
  */
final class Analytics(spark: SparkSession, seed: Long, oracleOut: String) {
  import spark.implicits._

  val queries: Seq[String] = LayerMetrics.queryNames
  private val rnd = new Random(seed * 131 + 17)

  val nCust = 1000; val nOrders = 8000; val nUsers = 120; val eventsPerUser = 67
  private val day0 = LocalDate.of(1995, 1, 1)
  private val q1Cutoff = LocalDate.of(1998, 9, 2).atStartOfDay()

  private val customer = (0 until nCust).map { k =>
    (k.toLong, f"Customer#$k%09d", rnd.nextInt(25), (rnd.nextInt(1099170) - 99900) / 100.0,
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(rnd.nextInt(5)))
  }
  private val orders = (0 until nOrders).map { k =>
    (k.toLong, rnd.nextInt(nCust).toLong, Seq("F", "O", "P")(rnd.nextInt(3)),
      (100000 + rnd.nextInt(49900000)) / 100.0, day0.plusDays(rnd.nextInt(2404)).atStartOfDay(),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rnd.nextInt(5)))
  }
  private val lineitem0 = orders.flatMap { o =>
    (1 to 1 + rnd.nextInt(7)).map { ln =>
      val qty = 1 + rnd.nextInt(50)
      (o._1, rnd.nextInt(2000).toLong, rnd.nextInt(100).toLong, ln, qty.toDouble,
        (qty * (900 + rnd.nextInt(1200))).toDouble, rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)),
        o._5.plusDays(1 + rnd.nextInt(121)))
    }
  }
  // shift the fewest rows of each q1 group past the cutoff so that its
  // filtered row count is prime
  private val lineitem = {
    def prime(k: Int) = k > 1 && (2 to math.sqrt(k.toDouble).toInt).forall(k % _ != 0)
    val moved = lineitem0.indices.groupBy(i => (lineitem0(i)._9, lineitem0(i)._10)).values.flatMap { idx =>
      val in = idx.filter(i => !lineitem0(i)._11.isAfter(q1Cutoff))
      val keep = (in.size to 2 by -1).find(prime).getOrElse(in.size)
      in.takeRight(in.size - keep)
    }.toSet
    lineitem0.indices.map { i =>
      val l = lineitem0(i)
      if (moved(i)) l.copy(_11 = q1Cutoff.plusDays(30)) else l
    }
  }
  private val events = {
    val users = rnd.shuffle((0 until nUsers).flatMap(u => Seq.fill(eventsPerUser)(u.toLong)))
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val ts = users.indices.map(_ => rnd.nextLong(30L * 86400L * 1000000L)).sorted
    users.indices.map { i =>
      (i.toLong, t0.plusNanos(ts(i) * 1000L), users(i),
        Seq("click", "view", "purchase", "signup", "error")(rnd.nextInt(5)),
        (1 + rnd.nextInt(50000)) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  /** Input rows each query reads, summed over the mix. */
  private val rowsPerPass: Double = {
    val (l, o, c, e) = (lineitem.size.toDouble, nOrders.toDouble, nCust.toDouble, events.size.toDouble)
    l + (l + o + c + 30) + (c + o + l) + o + e + e + e + o + e + l + l
  }

  private var dir = ""
  def stage(d: String): Unit = {
    def w(df: org.apache.spark.sql.DataFrame, t: String): Unit = df.coalesce(1).write.parquet(s"$d/$t.parquet")
    w(Seq(0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA", 3 -> "EUROPE", 4 -> "MIDDLE EAST")
      .toDF("r_regionkey", "r_name"), "region")
    w((0 until 25).map(k => (k, s"NATION_$k", k % 5)).toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    w(customer.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")
    w(orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority"), "orders")
    w(lineitem.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"), "lineitem")
    w(events.toDF("event_id", "ts", "user_id", "event_type", "value", "props"), "events")
    dir = d
  }

  def pass(p: Pass): Unit = queries.foreach { q =>
    p.op("queries", q) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, dir)
      p.values(s"build.$q") = (System.nanoTime() - t0) / 1e9
      df.write.mode("overwrite").parquet(s"$oracleOut/$q")
    }
  }

  /** The result comparison runs in DuckDB after the JVM exits; here the
    * oracle SQL and the table directory are handed over.
    */
  def check(): Seq[String] = {
    val sql = queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    val f = new java.io.File(s"$oracleOut/oracle.json")
    val out = new java.io.PrintWriter(f, "UTF-8")
    try out.print(Json(Map("tables" -> dir, "oracle_sql" -> sql))) finally out.close()
    Nil
  }

  private def queryS(p: Pass): Seq[Double] = queries.map(p.times)

  def namedMetrics(ps: Seq[Pass]): Map[String, Double] =
    Map("query_p50_s" -> Stats.median(ps.flatMap(queryS)),
      "query_build_s" -> Stats.median(ps.map(p => queries.map(q => p.values(s"build.$q")).sum)),
      "query_rows_per_s" -> Stats.median(ps.map(p => rowsPerPass / queryS(p).sum))) ++
      queries.map(q => s"${q}_s" -> Stats.median(ps.map(_.times(q))))

  def layerExtras(ps: Seq[Pass], t: Tracer): Map[String, Double] =
    queries.map(q => s"queries.${q}_s" -> Stats.median(ps.map(_.times(q)))).toMap
}

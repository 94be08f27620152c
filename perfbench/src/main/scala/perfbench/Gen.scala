package perfbench

import java.sql.{Connection, Date, Timestamp, Types}
import java.util.SplittableRandom

/** One generated table: Derby DDL, JDBC column types, rows. */
final case class GenTable(name: String, columns: Seq[(String, String, Int)],
    pk: Seq[String], indexes: Seq[(String, Seq[String])], rows: Array[Array[Any]]) {

  def createSql: String =
    columns.map { case (c, t, _) =>
      s"$c $t" + (if (pk.contains(c)) " NOT NULL" else "")
    }.mkString(s"CREATE TABLE $name (", ", ", s", PRIMARY KEY (${pk.mkString(", ")}))")

  def indexSql: Seq[String] =
    indexes.map { case (ix, cols) => s"CREATE INDEX $ix ON $name (${cols.mkString(", ")})" }
}

/** Deterministic input generators. Every table is a pure function of its
  * seed, so one seed always gives the same inputs.
  *
  * The fixture-shaped tables follow the schemas and value distributions of
  * the program's parquet fixtures (FIXTURES.md): uniform keys, a 31-word
  * text vocabulary. */
object Gen {

  val Vocab: Array[String] = ("a agg batch big column customer data dup fast filter " +
    "group hash join key line merge order part query row scan slow small sort " +
    "spark stream table the value vector window").split(" ")

  /** Row counts of the fixture-shaped tables. */
  final case class Sizes(customer: Int, supplier: Int, part: Int, orders: Int,
      lineitem: Int, events: Int, documents: Int)

  private val T0Orders = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val T0Events = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val Day = 86400000L

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  def region: GenTable = GenTable("region",
    Seq(("r_regionkey", "INTEGER", Types.INTEGER), ("r_name", "VARCHAR(25)", Types.VARCHAR)),
    Seq("r_regionkey"), Nil,
    Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => Array[Any](i, n) })

  def nation: GenTable = GenTable("nation",
    Seq(("n_nationkey", "INTEGER", Types.INTEGER), ("n_name", "VARCHAR(25)", Types.VARCHAR),
      ("n_regionkey", "INTEGER", Types.INTEGER)),
    Seq("n_nationkey"), Nil,
    Array.tabulate(25)(i => Array[Any](i, s"NATION_$i", i % 5)))

  def customer(n: Int, seed: Long): GenTable = {
    val r = new SplittableRandom(seed)
    val seg = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    GenTable("customer",
      Seq(("c_custkey", "BIGINT", Types.BIGINT), ("c_name", "VARCHAR(25)", Types.VARCHAR),
        ("c_nationkey", "INTEGER", Types.INTEGER), ("c_acctbal", "DOUBLE", Types.DOUBLE),
        ("c_mktsegment", "VARCHAR(10)", Types.VARCHAR)),
      Seq("c_custkey"), Seq(("idx_customer_nationkey", Seq("c_nationkey"))),
      Array.tabulate(n)(i => Array[Any](i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999, 9999), pick(r, seg))))
  }

  def supplier(n: Int, seed: Long): GenTable = {
    val r = new SplittableRandom(seed)
    GenTable("supplier",
      Seq(("s_suppkey", "BIGINT", Types.BIGINT), ("s_name", "VARCHAR(25)", Types.VARCHAR),
        ("s_nationkey", "INTEGER", Types.INTEGER), ("s_acctbal", "DOUBLE", Types.DOUBLE)),
      Seq("s_suppkey"), Seq(("idx_supplier_nationkey", Seq("s_nationkey"))),
      Array.tabulate(n)(i => Array[Any](i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999, 9999))))
  }

  def part(n: Int, seed: Long): GenTable = {
    val r = new SplittableRandom(seed)
    val adj = Seq("blue", "cold", "large", "new", "small", "red", "old", "green")
    val noun = Seq("widget", "rod", "gear", "anvil", "bolt", "valve")
    val ty = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    GenTable("part",
      Seq(("p_partkey", "BIGINT", Types.BIGINT), ("p_name", "VARCHAR(55)", Types.VARCHAR),
        ("p_brand", "VARCHAR(10)", Types.VARCHAR), ("p_type", "VARCHAR(25)", Types.VARCHAR),
        ("p_size", "INTEGER", Types.INTEGER), ("p_retailprice", "DOUBLE", Types.DOUBLE)),
      Seq("p_partkey"), Nil,
      Array.tabulate(n)(i => Array[Any](i.toLong, s"${pick(r, adj)} ${pick(r, noun)}",
        s"Brand#${1 + r.nextInt(25)}", pick(r, ty), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
  }

  def orders(n: Int, customers: Int, seed: Long): GenTable = {
    val r = new SplittableRandom(seed)
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    GenTable("orders",
      Seq(("o_orderkey", "BIGINT", Types.BIGINT), ("o_custkey", "BIGINT", Types.BIGINT),
        ("o_orderstatus", "VARCHAR(1)", Types.VARCHAR), ("o_totalprice", "DOUBLE", Types.DOUBLE),
        ("o_orderdate", "TIMESTAMP", Types.TIMESTAMP),
        ("o_orderpriority", "VARCHAR(15)", Types.VARCHAR)),
      Seq("o_orderkey"), Seq(("idx_orders_custkey", Seq("o_custkey"))),
      Array.tabulate(n)(i => Array[Any](i.toLong, r.nextInt(customers).toLong,
        pick(r, Seq("O", "F", "P")), money(r, 1000, 500000),
        new Timestamp(T0Orders + r.nextInt(2404) * Day), pick(r, prio))))
  }

  def lineitem(n: Int, orders: Int, parts: Int, suppliers: Int, seed: Long): GenTable = {
    val r = new SplittableRandom(seed)
    GenTable("lineitem",
      Seq(("l_orderkey", "BIGINT", Types.BIGINT), ("l_partkey", "BIGINT", Types.BIGINT),
        ("l_suppkey", "BIGINT", Types.BIGINT), ("l_linenumber", "INTEGER", Types.INTEGER),
        ("l_quantity", "DOUBLE", Types.DOUBLE), ("l_extendedprice", "DOUBLE", Types.DOUBLE),
        ("l_discount", "DOUBLE", Types.DOUBLE), ("l_tax", "DOUBLE", Types.DOUBLE),
        ("l_returnflag", "VARCHAR(1)", Types.VARCHAR), ("l_linestatus", "VARCHAR(1)", Types.VARCHAR),
        ("l_shipdate", "TIMESTAMP", Types.TIMESTAMP)),
      Seq("l_orderkey", "l_linenumber"), Nil,
      Array.tabulate(n) { _ =>
        val q = (1 + r.nextInt(50)).toDouble
        Array[Any](r.nextInt(orders).toLong, r.nextInt(parts).toLong,
          r.nextInt(suppliers).toLong, 1 + r.nextInt(7), q, money(r, 900, 2100) * q,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Seq("N", "R", "A")),
          pick(r, Seq("F", "O")), new Timestamp(T0Orders + r.nextInt(2500) * Day))
      })
  }

  def events(n: Int, seed: Long): GenTable = {
    val r = new SplittableRandom(seed)
    val types = Seq("click", "error", "purchase", "signup", "view")
    var t = T0Events
    GenTable("events",
      Seq(("event_id", "BIGINT", Types.BIGINT), ("ts", "TIMESTAMP", Types.TIMESTAMP),
        ("user_id", "BIGINT", Types.BIGINT), ("event_type", "VARCHAR(16)", Types.VARCHAR),
        ("value", "DOUBLE", Types.DOUBLE), ("props", "VARCHAR(64)", Types.VARCHAR)),
      Seq("event_id"), Nil,
      Array.tabulate(n) { i =>
        t += 1 + r.nextLong(5000000L)
        Array[Any](i.toLong, new Timestamp(t), r.nextInt(15).toLong, pick(r, types),
          money(r, 0, 330), s"""{"k": ${r.nextInt(100)}}""")
      })
  }

  def documents(n: Int, seed: Long): GenTable = {
    val r = new SplittableRandom(seed)
    val langs = Seq("en", "en", "de", "es", "fr", "zh")
    GenTable("documents",
      Seq(("doc_id", "BIGINT", Types.BIGINT), ("text", "VARCHAR(1000)", Types.VARCHAR),
        ("lang", "VARCHAR(8)", Types.VARCHAR), ("source", "VARCHAR(16)", Types.VARCHAR),
        ("n_chars", "BIGINT", Types.BIGINT)),
      Seq("doc_id"), Nil,
      Array.tabulate(n) { i =>
        val text = Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
        Array[Any](i.toLong, text, pick(r, langs), s"src${r.nextInt(20)}", text.length.toLong)
      })
  }

  /** The eight primary-keyed fixture tables a migration copies. */
  def pkTables(s: Sizes, seed: Long): Seq[GenTable] = Seq(
    region, nation, customer(s.customer, seed + 1), supplier(s.supplier, seed + 2),
    part(s.part, seed + 3), orders(s.orders, s.customer, seed + 4),
    events(s.events, seed + 5), documents(s.documents, seed + 6))

  /** `wide`: `tables` seed-drawn schemas spanning the converter's type
    * map, `rows` rows and six non-key columns each. One table in four has
    * a composite primary key and one in three a secondary index. DECIMAL
    * columns carry `decimalScale` fraction digits. */
  def wideTables(tables: Int, rows: Int, seed: Long, decimalScale: Int): Seq[GenTable] = {
    val r = new SplittableRandom(seed)
    val kinds: Seq[(String, Int)] = Seq(("BIGINT", Types.BIGINT), ("INTEGER", Types.INTEGER),
      (s"DECIMAL(12,$decimalScale)", Types.DECIMAL), ("VARCHAR(64)", Types.VARCHAR), ("DATE", Types.DATE),
      ("TIMESTAMP", Types.TIMESTAMP), ("DOUBLE", Types.DOUBLE), ("BOOLEAN", Types.BOOLEAN))
    (0 until tables).map { t =>
      val composite = t % 4 == 0
      val keyCols = if (composite) Seq(("k1", "BIGINT", Types.BIGINT), ("k2", "INTEGER", Types.INTEGER))
        else Seq(("id", "BIGINT", Types.BIGINT))
      val cols = (0 until 6).map { c =>
        val (ty, jdbc) = if (c < kinds.size && t % 2 == 0) kinds(c) else kinds(r.nextInt(kinds.size))
        (s"c$c", ty, jdbc)
      }
      val rs = Array.tabulate(rows) { i =>
        val key: Seq[Any] = if (composite) Seq((i / 8).toLong, i % 8) else Seq(i.toLong * 3)
        (key ++ cols.map { case (_, _, jdbc) =>
          if (r.nextInt(20) == 0) null
          else jdbc match {
            case Types.BIGINT => r.nextLong()
            case Types.INTEGER => r.nextInt()
            case Types.DECIMAL => java.math.BigDecimal.valueOf(r.nextLong(100000000000L), decimalScale)
            case Types.VARCHAR => Array.fill(1 + r.nextInt(6))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
            case Types.DATE => new Date(T0Orders + r.nextInt(10000) * Day)
            case Types.TIMESTAMP => new Timestamp(T0Events + r.nextLong(1000000000000L))
            case Types.DOUBLE => r.nextDouble() * 1e6
            case _ => r.nextBoolean()
          }
        }).toArray
      }
      GenTable(f"w$t%03d", keyCols ++ cols, keyCols.map(_._1),
        if (t % 3 == 0) Seq((f"ix_w$t%03d", Seq("c0"))) else Nil, rs)
    }
  }

  /** Create `t` and insert its rows in the order `perm` gives, with
    * batched JDBC inserts and one commit per table. */
  def load(conn: Connection, t: GenTable, perm: Array[Int], ddl: Boolean = true): Unit = {
    val st = conn.createStatement()
    if (ddl) { st.executeUpdate(t.createSql); t.indexSql.foreach(st.executeUpdate) }
    st.close()
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement(
      s"INSERT INTO ${t.name} VALUES (${t.columns.map(_ => "?").mkString(", ")})")
    var n = 0
    perm.foreach { i =>
      val row = t.rows(i)
      var c = 0
      while (c < row.length) {
        if (row(c) == null) ps.setNull(c + 1, t.columns(c)._3) else ps.setObject(c + 1, row(c))
        c += 1
      }
      ps.addBatch(); n += 1
      if (n % 5000 == 0) ps.executeBatch()
    }
    ps.executeBatch(); ps.close()
    conn.commit(); conn.setAutoCommit(true)
  }

  /** A seed-drawn permutation of 0 until n. */
  def permutation(n: Int, seed: Long): Array[Int] = {
    val r = new SplittableRandom(seed)
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val x = p(i); p(i) = p(j); p(j) = x; i -= 1 }
    p
  }
}

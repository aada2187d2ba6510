package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, functions => F}

import graft.api.Graft

/** The paper's own surface: one `graft.api.Graft` call per op over a
  * read-only star-schema fixture, keys drawn uniformly over the full
  * key domains so nearly every op plans a new literal. */
final class OrmRead(args: Args) extends Workload {
  val name = "orm_read"
  val opClass = "read"
  private val sf = if (args.tiny) 0.001 else 0.1
  private var dir = ""
  private var g: Graft = _
  private var z = Data.tpchSizes(sf)
  private var fixtureMb = 0.0
  private val lists = IndexedSeq(("nation", "n_nationkey", "n_name"),
    ("region", "r_regionkey", "r_name"), ("customer", "c_mktsegment", "c_mktsegment"))
  /** one of each kind, as the engine's own query families have one query each */
  private val kinds = IndexedSeq("read_one", "qbe_read", "total", "belongs_to", "has_many",
    "many_to_many", "select_list", "sql")
  def cycle: Int = kinds.size
  /** (kind, key) -> digest of the ORM's answer, checked after the phase */
  private val answers = mutable.LinkedHashMap.empty[(String, Long), String]
  private var distinctKeys = 0

  private var generated = ""

  def generate(ctx: Ctx): Unit = {
    generated = ctx.fresh("tpch")
    z = Data.tpch(ctx.spark, generated, args.seed, sf)
    fixtureMb = Disk.sizeMb(generated)
  }

  /** A copy of the fixture in a new location, so no file listing is
    * reused; the copy is not part of the set-up a user pays. */
  override def prepare(ctx: Ctx): Unit = {
    dir = ctx.fresh("orm")
    Disk.copyTree(generated, dir)
  }

  /** The copy registered as the model views. */
  def setup(ctx: Ctx): Unit = {
    g = Graft(ctx.spark, dir)
    g.enableSql()
  }

  def reset(ctx: Ctx): Unit = answers.clear()

  def warmup(ctx: Ctx): Unit = {
    val r = new Rng(args.seed + 1)
    val ph = new Phase
    for (kind <- kinds) run(ctx, ph, kind, key(kind, r))
  }

  private def key(kind: String, r: Rng): Long = kind match {
    case "read_one" | "qbe_read" | "has_many" => r.long(1, z.customers + 1)
    case "total" | "many_to_many" => r.long(1, z.parts + 1)
    case "belongs_to" | "sql" => r.long(1, z.orders + 1)
    case "select_list" => r.int(lists.size).toLong
  }

  def op(ctx: Ctx, ph: Phase, i: Int, r: Rng): Unit = {
    val kind = kinds(i % kinds.size)
    val k = key(kind, r)
    val t0 = System.nanoTime()
    val rows = ctx.probe.span("orm", kind)(run(ctx, ph, kind, k))
    ph.sample("read", kind, (System.nanoTime() - t0) / 1e6)
    answers((kind, k)) = Canon.digest(rows, ordered = kind == "qbe_read")
  }

  /** One facade call. Calls that return a plan are built, planned and
    * collected as three separately timed steps. */
  private def run(ctx: Ctx, ph: Phase, kind: String, k: Long): Seq[Row] = {
    def plan(build: => DataFrame): Seq[Row] = {
      val t0 = System.nanoTime()
      val df = ctx.probe.span("orm", "build")(build)
      ph.add("orm.build_ms", (System.nanoTime() - t0) / 1e6)
      ph.add("orm.builds", 1)
      val t1 = System.nanoTime()
      ctx.probe.span("plan", "executed_plan")(df.queryExecution.executedPlan)
      ph.add("plan.wall_ms", (System.nanoTime() - t1) / 1e6)
      df.collect().toSeq
    }
    kind match {
      case "read_one" => g.model("customer").where("c_custkey", k).readOne().toSeq
      case "qbe_read" => plan(g.model("orders").where("o_custkey", k).read(Some(10)))
      case "total" => Seq(Row(g.model("lineitem").where("l_partkey", k).total()))
      case "belongs_to" => plan(g.model("orders").where("o_orderkey", k).related("customer"))
      case "has_many" => plan(g.model("customer").where("c_custkey", k).related("orders"))
      case "many_to_many" => plan(g.model("part").where("p_partkey", k).related("orders"))
      case "select_list" =>
        val (t, a, b) = lists(k.toInt)
        plan(g.model(t).selectList(a, b))
      case "sql" => plan(ctx.spark.sql(
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate " +
          s"FROM orders WHERE o_orderkey = $k"))
    }
  }

  /** Every answer against the same query written in plain Spark over
    * the raw parquet, one batched query per op kind. */
  def verify(ctx: Ctx, ph: Phase): Unit = {
    val spark = ctx.spark
    def raw(t: String) = spark.read.parquet(s"$dir/$t.parquet")
    val customer = raw("customer"); val orders = raw("orders")
    val lineitem = raw("lineitem"); val part = raw("part")
    distinctKeys = answers.size
    answers.keys.groupBy(_._1).foreach { case (kind, ks) =>
      val keys = ks.map(_._2).toSeq
      def grouped(df: DataFrame, col: String): Map[Long, Seq[Row]] =
        df.filter(F.col(col).isin(keys: _*)).collect().toSeq
          .groupBy(r => r.getAs[Any](col).toString.toLong)
      val ref: Long => Seq[Row] = kind match {
        case "read_one" => grouped(customer, "c_custkey").getOrElse(_, Nil)
        case "qbe_read" =>
          val m = grouped(orders, "o_custkey")
          k => m.getOrElse(k, Nil).sortBy(r => (-epochOf(r.getAs[Any]("o_orderdate")),
            r.getAs[Long]("o_orderkey"))).take(10)
        case "total" =>
          val m = lineitem.filter(F.col("l_partkey").isin(keys: _*)).groupBy("l_partkey")
            .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          k => Seq(Row(m.getOrElse(k, 0L)))
        case "belongs_to" =>
          val m = grouped(orders.join(customer, orders("o_custkey") === customer("c_custkey")),
            "o_orderkey")
          m.getOrElse(_, Nil)
        case "has_many" =>
          val m = grouped(customer.join(orders, customer("c_custkey") === orders("o_custkey")),
            "c_custkey")
          m.getOrElse(_, Nil)
        case "many_to_many" =>
          val piv = lineitem.select("l_partkey", "l_orderkey")
          val m = grouped(part.join(piv, part("p_partkey") === piv("l_partkey"))
            .join(orders, piv("l_orderkey") === orders("o_orderkey"))
            .drop("l_partkey", "l_orderkey"), "p_partkey")
          m.getOrElse(_, Nil)
        case "select_list" =>
          k => { val (t, a, b) = lists(k.toInt); raw(t).select(a, b).distinct().collect().toSeq }
        case "sql" =>
          val m = grouped(orders.select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate"), "o_orderkey")
          m.getOrElse(_, Nil)
      }
      keys.foreach { k =>
        val want = Canon.digest(ref(k), ordered = kind == "qbe_read")
        ph.check(answers((kind, k)) == want, s"$kind key $k differs from plain Spark")
      }
    }
  }

  private def epochOf(v: Any): Long = v match {
    case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
    case t: java.sql.Timestamp => t.getTime / 1000
  }

  def sizes: Seq[(String, String)] = Seq(
    "fixture" -> (f"sf$sf: ${z.customers} customers, ${z.orders} orders, " +
      f"${z.orders * z.linesPerOrder} lineitems, ${z.parts} parts; $fixtureMb%.1f MB of parquet"),
    "plans" -> (s"$distinctKeys distinct (kind, key) literals in the last phase, " +
      "against Spark's 100-entry codegen cache"))
}

/** Order-insensitive (unless `ordered`) digest of a result. */
object Canon {
  def digest(rows: Seq[Row], ordered: Boolean): String = {
    val lines = rows.map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("|"))
    val text = (if (ordered) lines else lines.sorted).mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }
}

object Disk {
  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val s = java.nio.file.Files.walk(src)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.foreach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    } finally s.close()
  }

  def sizeMb(dir: String): Double = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum / 1e6
    } finally s.close()
  }
}

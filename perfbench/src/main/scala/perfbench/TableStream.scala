package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.hadoop.fs.{Path => HPath}

import graft.operators.{Dedup, ManifestTable, Similarity}
import graft.sources.ManifestSql
import graft.streaming.StreamingOps

/** A ledgered manifest table of documents under a fixed schedule of
  * reads and ingest steps. Reads go through `ManifestTable.readWhere` and the
  * three SQL doors (temp view, HMS name, `graft.default.<t>`), keys
  * skewed toward recent documents, each checked against an in-driver
  * model. An ingest offers a batch with planted near-copies through
  * `Dedup.incrementalNearDedup`, appends the survivors, deletes recent
  * documents, and drains both commits into two ledgered sinks: the
  * `graft-cdf` -> `graft-manifest` streaming query (update mode, merge
  * key `id`) and `StreamingOps.streamingManifestUpsert` over the commits'
  * change rows exported as parquet files. A curation step runs the batch
  * pipeline over each offered batch (`Dedup.jaccardPairsLsh` ->
  * `Dedup.dupComponents`) and vector search over seeded clustered
  * embeddings (`Similarity.kmeansCentroids` + `Similarity.ivfTopK`). */
final class TableStream(args: Args) extends Workload {
  val name = "table_stream"
  val opClass = "op"
  /** Read kinds: each of the four ways in (`readWhere` and the three SQL
    * doors), by point and by range, equally often. */
  private val readKinds = for (door <- IndexedSeq("where", "view", "catalog", "dsv2");
    shape <- IndexedSeq("point", "range")) yield s"$door.$shape"
  /** Two rounds of the read kinds (three ops in four) with the steps of
    * one ingest among them, in order: offer (near-dedup and append),
    * curate, retire (delete), then drain each path; the drains follow
    * the last commit directly, so freshness covers commit to drain and
    * nothing else. With three slow steps (curate and the two drains) in
    * 21 ops, `op_p90_ms` falls inside their cluster, not at its edge,
    * for two or three rotations. */
  private val schedule: IndexedSeq[String] = {
    val rs = IndexedSeq.fill(2)(readKinds).flatten
    rs.take(1) ++ IndexedSeq("offer") ++ rs.slice(1, 4) ++ IndexedSeq("curate") ++
      rs.slice(4, 6) ++ IndexedSeq("retire", "cdf", "ops") ++ rs.drop(6)
  }
  def cycle: Int = schedule.size
  private val seedRows = if (args.tiny) 50 else 2000
  private val fullAppend = if (args.tiny) 10 else 200
  /** warm-up ops are a tenth the size: the code paths, not the volume */
  private var appendRows = fullAppend
  private def deleteRows = appendRows / 10
  private val copyFrac = 0.1
  private val vocab = 20000
  /** curation's similarity threshold, and its embedding set: vectors,
    * dimensions, planted clusters, queries and neighbours per query */
  private val pairThreshold = 0.8
  private val vectors = if (args.tiny) 100 else 2000
  private val dims = 8
  private val clusters = 4
  private val queries = 16
  private val topK = 5

  private var src = ""
  private var sinkA = ""
  private var ckptA = ""
  /** the ingest in flight: versions before, after the append, after the
    * delete; its kept documents and victims; when its last commit returned */
  private var v0, v1, v2 = 0
  private var kept = Seq.empty[(Long, String)]
  private var offered = Seq.empty[(Long, String)]
  private var victims = Seq.empty[Long]
  private var committedAt = 0L
  private var nextId = 0L
  private var version = 0
  /** live source documents; the cdf sink's model: last change per id */
  private val live = mutable.TreeMap.empty[Long, String]
  private val feedA = mutable.Map.empty[Long, (String, Long)]
  private var rowsIn = 0L
  private var filesLive = 1
  private var names = 0
  private var view = ""
  private var hms = ""
  private val pinned = mutable.Map.empty[String, Int]

  private def word(r: Rng): String = "w" + Integer.toString(r.int(vocab), 36)
  private def doc(r: Rng): String = Seq.fill(30 + r.int(30))(word(r)).mkString(" ")
  /** ~2% of the words replaced: Jaccard to the original stays near 0.96 */
  private def nearCopy(r: Rng, text: String): String =
    text.split(' ').map(w => if (r.chance(0.02)) word(r) else w).mkString(" ")

  private var seedDocs = Seq.empty[(Long, String)]

  def generate(ctx: Ctx): Unit = {
    val r = new Rng(args.seed)
    seedDocs = (1 to seedRows).map(i => i.toLong -> doc(r))
  }

  /** A seeded source behind the three doors, and the cdf sink caught up. */
  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    src = ctx.fresh("source")
    sinkA = ctx.fresh("sink-cdf")
    ckptA = ctx.fresh("ckpt-cdf")
    live.clear(); feedA.clear()
    kept = Nil; victims = Nil; offered = Nil; v2 = -1
    seedDocs.foreach { case (id, t) => live(id) = t }
    ManifestTable.init(src, Seq("id"), Seq("id"))
    val seeded = ManifestTable.append(spark, src, seedDocs.toDF("id", "text"))
    version = seeded.version
    filesLive = seeded.files.size
    names += 1
    view = s"ts_view_$names"; hms = s"ts_hms_$names"
    ManifestSql.register(spark, view, src)
    ManifestSql.registerPersistent(spark, hms, src)
    graft.catalog.GraftCatalog.install(spark)
    pinned.clear(); pinned(view) = version; pinned(hms) = version
    live.keys.foreach(id => feedA(id) = ("insert", version.toLong))
    nextId = seedRows + 1L
    ManifestTable.init(sinkA, Seq("id"), Seq("id"))
    drainCdf(ctx)
  }

  /** The cdf query over its own checkpoint, run until it has caught up
    * with the source head (one micro-batch per version). */
  private def drainCdf(ctx: Ctx): Unit = {
    val q = ctx.spark.readStream.format("graft-cdf").option("path", src)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("graft-manifest").option("path", sinkA)
      .option("checkpointLocation", ckptA).option("mergeKey", "id")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
  }

  def reset(ctx: Ctx): Unit = setup(ctx)

  /** One parquet file per commit, mtime-ordered as the file source
    * orders its batches. */
  private def exportCommit(ctx: Ctx, dir: String, changes: DataFrame, v: Int): Unit = {
    val tmp = s"$dir/.tmp-$v"
    changes.withColumn("_commit_version", F.lit(v.toLong)).coalesce(1)
      .write.parquet(tmp)
    val fs = new HPath(tmp).getFileSystem(ctx.sc.hadoopConfiguration)
    val part = fs.listStatus(new HPath(tmp)).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).get
    val dest = new HPath(dir, f"v$v%06d.parquet")
    fs.rename(part, dest)
    fs.setTimes(dest, 1000000000000L + v * 1000L, -1)
    fs.delete(new HPath(tmp), true)
    ()
  }

  /** One rotation of the schedule with ingests a tenth the size: the
    * code paths, not the volume. */
  def warmup(ctx: Ctx): Unit = {
    val r = new Rng(args.seed + 1)
    val ph = new Phase
    appendRows = math.max(10, fullAppend / 10)
    try schedule.indices.foreach(i => op(ctx, ph, i, r)) finally appendRows = fullAppend
    ph.problems.foreach(p => throw new IllegalStateException(s"warm-up: $p"))
  }

  def op(ctx: Ctx, ph: Phase, i: Int, r: Rng): Unit = {
    val kind = schedule(i % schedule.size)
    val t0 = System.nanoTime()
    kind match {
      case "offer" => offer(ctx, ph, r)
      case "curate" => curate(ctx, ph, r)
      case "retire" => retire(ctx, ph, r)
      case "cdf" => cdfPath(ctx, ph)
      case "ops" => opsPath(ctx, ph)
      case _ => read(ctx, ph, kind, r)
    }
    ph.sample("op", kind, (System.nanoTime() - t0) / 1e6)
  }

  /** Keys skew toward recent (high) ids: P(rank) ~ 1/rank. */
  private def recentKey(r: Rng): Long = nextId - r.zipfRank(nextId - 1)

  /** A point or range read by id, through `readWhere` or a SQL door,
    * checked against the model. */
  private def read(ctx: Ctx, ph: Phase, kind: String, r: Rng): Unit = {
    val spark = ctx.spark
    val Array(door, shape) = kind.split('.')
    val k = recentKey(r)
    val width = if (shape == "point") 1 else 1 + r.int(200)
    val want = live.range(k, k + width).toSeq
    def check(df: DataFrame): Unit = {
      val got = df.collect().map(x => x.getLong(0) -> x.getString(1)).toSeq
      val scanned = Scans.files(df)
      ph.add("scans", 1); ph.add("files_scanned", scanned.toDouble)
      ph.add("pruned", 1.0 - scanned.toDouble / math.max(1, filesLive))
      ph.check(got.sortBy(_._1) == want, s"$kind $k+$width: ${got.size} rows, model has ${want.size}")
    }
    val t0 = System.nanoTime()
    if (door == "where")
      check(ctx.probe.span("manifest", "read_where")(ManifestTable.readWhere(spark, src,
        F.col("id") >= k && F.col("id") < k + width)))
    else {
      val name = door match {
        case "view" => view
        case "catalog" => hms
        case _ => s"graft.default.$hms"
      }
      ctx.probe.span("door", door) {
        // the view and the HMS relation pin a snapshot: re-pin when the
        // head moved (the v2 door resolves the head on every query)
        if (door != "dsv2") {
          val head = ctx.probe.span("manifest", "latest")(ManifestTable.latest(src).get.version)
          if (pinned(name) != head) {
            if (door == "view") ManifestSql.register(spark, view, src)
            else spark.catalog.refreshTable(name)
            pinned(name) = head
          }
        }
        val df = spark.sql(s"SELECT id, text FROM $name WHERE id >= $k AND id < ${k + width}")
        val t = System.nanoTime()
        ctx.probe.span("plan", "executed_plan")(df.queryExecution.executedPlan)
        val ms = (System.nanoTime() - t) / 1e6
        ph.add("door.plan_ms", ms); ph.add("plan.wall_ms", ms); ph.add("door.reads", 1)
        check(df)
      }
    }
    ph.sample("read", kind, (System.nanoTime() - t0) / 1e6)
  }

  /** Offer a batch with planted near-copies; append what near-dedup keeps. */
  private def offer(ctx: Ctx, ph: Phase, r: Rng): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def pickLive() = live.keysIterator.drop(r.int(live.size)).next()
    v0 = version
    // fresh documents, and planted near-copies of live documents or of
    // earlier fresh documents in the same batch
    val batch = mutable.ArrayBuffer.empty[(Long, String)]
    val fresh = mutable.ArrayBuffer.empty[String]
    val planted = mutable.Set.empty[Long]
    (0 until appendRows).foreach { j =>
      val id = nextId + j
      if (r.chance(copyFrac)) {
        val of = if (fresh.nonEmpty && r.chance(0.5)) fresh(r.int(fresh.size))
          else live(pickLive())
        batch += id -> nearCopy(r, of); planted += id
      } else { val d = doc(r); batch += id -> d; fresh += d }
    }
    nextId += appendRows
    offered = batch.toSeq
    val t0 = System.nanoTime()
    kept = ctx.probe.span("curate", "near_dedup") {
      Dedup.incrementalNearDedup(ManifestTable.read(spark, src), batch.toSeq.toDF("id", "text"),
        "id", "text").as[(Long, String)].collect().toSeq
    }
    val keptIds = kept.map(_._1).toSet
    val dropped = batch.map(_._1).filterNot(keptIds)
    ph.add("planted", planted.size)
    ph.add("planted_dropped", dropped.count(planted))
    // fresh documents share ~3% of their words with any other; a drop
    // of one is a false near-duplicate, reported rather than failed
    ph.add("false_drops", dropped.count(id => !planted(id)))
    kept.foreach { case (id, t) => live(id) = t }
    rowsIn += batch.size
    ph.add("rows", batch.size)
    ph.add("user_bytes", batch.map(_._2.length + 8).sum.toDouble)
    val appended = ctx.probe.span("manifest", "append")(
      ManifestTable.append(spark, src, kept.toDF("id", "text")))
    v1 = appended.version
    version = v1
    filesLive = appended.files.size
    committedAt = System.nanoTime()
    ph.sample("write", "append", (committedAt - t0) / 1e6)
  }

  /** The batch pipeline over the last offered batch, checked against
    * exact Jaccard over every pair of it and a union-find over the pairs
    * found; then k-means cells and an IVF top-k over seeded clustered
    * embeddings, probing every cell, so the answer is exact and checked
    * against brute force. */
  private def curate(ctx: Ctx, ph: Phase, r: Rng): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val pairs = ctx.probe.span("curate", "lsh_pairs") {
      Dedup.jaccardPairsLsh(offered.toDF("id", "text"), "id", "text", pairThreshold)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    }
    val comps = ctx.probe.span("curate", "components") {
      Dedup.dupComponents(pairs.toDF("id_a", "id_b")).select("id", "component")
        .as[(Long, Long)].collect().toMap
    }
    val sets = offered.map { case (id, t) => id -> t.split(' ').toSet }.toIndexedSeq
    def jaccard(a: Set[String], b: Set[String]) = (a & b).size.toDouble / (a | b).size
    val truth = (for {
      i <- sets.indices; j <- i + 1 until sets.size
      if jaccard(sets(i)._2, sets(j)._2) >= pairThreshold
    } yield (math.min(sets(i)._1, sets(j)._1), math.max(sets(i)._1, sets(j)._1))).toSet
    val found = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    ph.check(found.subsetOf(truth),
      s"jaccardPairsLsh reported ${(found -- truth).size} pairs below Jaccard $pairThreshold")
    ph.add("curations", 1); ph.add("pairs_out", found.size)
    ph.add("pairs_true", truth.size); ph.add("pairs_found", (found & truth).size)
    // components labelled by their least id
    val parent = mutable.Map.empty[Long, Long]
    def root(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else root(p) }
    found.foreach { case (a, b) =>
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = found.flatMap { case (a, b) => Seq(a, b) }.map(x => x -> root(x)).toMap
    ph.check(comps == want, s"dupComponents differs from a union-find over ${found.size} pairs")

    val centers = IndexedSeq.fill(clusters)(IndexedSeq.fill(dims)(r.double() * 2 - 1))
    def point(): Seq[Float] = {
      val c = centers(r.int(clusters))
      c.map(x => (x + (r.double() - 0.5) * 0.3).toFloat)
    }
    val corpus = (0 until vectors).map(i => i.toLong -> point())
    val qs = (0 until queries).map(j => (vectors + j).toLong -> point())
    val corpusDf = corpus.toDF("id", "vec")
    // trained on the driver: the returned frame is local data
    val cents = ctx.probe.span("curate", "ivf_centroids")(
      Similarity.kmeansCentroids(corpusDf, "id", "vec", clusters, iters = 3))
    ph.check(cents.count() == clusters, s"kmeansCentroids returned ${cents.count()} centroids")
    val top = ctx.probe.span("curate", "ivf_topk") {
      Similarity.ivfTopK(corpusDf, qs.toDF("id", "vec"), cents, "id", "vec", topK,
        nprobe = clusters).select("query_id", "match_id", "sim", "rank")
        .as[(Long, Long, Double, Long)].collect().toSeq
    }
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      def dot(x: Seq[Float], y: Seq[Float]) = x.zip(y).map { case (u, v) => u.toDouble * v }.sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val vec = corpus.toMap
    val byQuery = top.groupBy(_._1)
    qs.foreach { case (q, qv) =>
      val got = byQuery.getOrElse(q, Nil).sortBy(_._4)
      val best = corpus.map { case (_, v) => cos(qv, v) }.sorted(Ordering[Double].reverse)
        .take(topK)
      ph.check(got.size == topK && got.map(_._3).zip(best).forall { case (a, b) =>
        math.abs(a - b) <= 1e-5 } && got.forall { case (_, m, sim, _) =>
        math.abs(cos(qv, vec(m)) - sim) <= 1e-5 }, s"ivfTopK differs from brute force for query $q")
    }
  }

  /** Delete recent documents: the rewrite touches one or two files. */
  private def retire(ctx: Ctx, ph: Phase, r: Rng): Unit = {
    val recent = live.keysIterator.drop(math.max(0, live.size - 2 * appendRows)).toIndexedSeq
    victims = Seq.fill(deleteRows)(recent(r.int(recent.size))).distinct
    victims.foreach(live.remove)
    ph.add("user_bytes", 8.0 * victims.size)
    val t0 = System.nanoTime()
    val snap = ctx.probe.span("manifest", "delete")(ManifestTable.deleteWhere(ctx.spark, src,
      F.col("id").isin(victims: _*))).snapshot
    v2 = snap.version
    version = v2
    filesLive = snap.files.size
    committedAt = System.nanoTime()
    ph.sample("write", "delete", (committedAt - t0) / 1e6)
  }

  private def changeModel: Map[Long, (String, Long)] =
    kept.map(_._1 -> ("insert", v1.toLong)).toMap ++ victims.map(_ -> ("delete", v2.toLong))

  /** Path 1: the cdf query catches up (batch id = version - 1). */
  private def cdfPath(ctx: Ctx, ph: Phase): Unit = {
    val t0 = System.nanoTime()
    ctx.probe.span("stream", "cdf_sink") {
      drainCdf(ctx)
      ph.check(ctx.probe.span("manifest", "latest")(
        ManifestTable.isBatchCommitted(sinkA, v2 - 1L)), s"cdf sink does not hold version $v2")
    }
    feedA ++= changeModel
    ph.sample("path", "sink_path", (System.nanoTime() - t0) / 1e6)
  }

  /** Path 2: each commit exported as one file, the directory drained
    * through the upsert path into a fresh ledgered table; then a replay of
    * the last batch, which must change nothing. */
  private def opsPath(ctx: Ctx, ph: Phase): Unit = {
    val spark = ctx.spark
    val sinkB = ctx.fresh("sink-ops")
    val exportDir = ctx.fresh("export")
    val t0 = System.nanoTime()
    ctx.probe.span("stream", "ops_upsert") {
      ManifestTable.init(sinkB, Seq("id"), Seq("id"))
      exportCommit(ctx, exportDir, ManifestTable.changes(spark, src, v0, v1), v1)
      exportCommit(ctx, exportDir, ManifestTable.changes(spark, src, v1, v2), v2)
      StreamingOps.streamingManifestUpsert(spark, exportDir, sinkB, "id")
      ph.check(ctx.probe.span("manifest", "latest")(ManifestTable.isBatchCommitted(sinkB, 1L)),
        s"upsert sink does not hold version $v2")
    }
    val done = System.nanoTime()
    ph.sample("path", "ops_path", (done - t0) / 1e6)
    ph.sample("freshness", "ingest", (done - committedAt) / 1e6)
    ph.check(sinkRows(ctx, sinkB) == changeModel, s"upsert sink differs from the model at $v2")
    val t2 = System.nanoTime()
    val before = ManifestTable.latest(sinkB).get.version
    val again = ctx.probe.span("stream", "replay")(ManifestTable.upsertBatch(spark, sinkB,
      1L, "id", spark.read.parquet(f"$exportDir/v$v2%06d.parquet")))
    ph.check(again.matchedRows == 0 && again.insertedRows == 0 &&
      ManifestTable.latest(sinkB).get.version == before, s"replay of version $v2 wrote")
    ph.sample("replay", "replay_noop", (System.nanoTime() - t2) / 1e6)
  }

  private def sinkRows(ctx: Ctx, root: String): Map[Long, (String, Long)] = {
    val spark = ctx.spark
    import spark.implicits._
    ManifestTable.read(spark, root).select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().map { case (id, t, v) => id -> (t, v) }.toMap
  }

  def verify(ctx: Ctx, ph: Phase): Unit = {
    // catch the cdf sink up with commits the phase ended before draining
    drainCdf(ctx)
    if (v2 == version) feedA ++= changeModel
    else feedA ++= kept.map(_._1 -> ("insert", v1.toLong))
    ph.check(sinkRows(ctx, sinkA) == feedA.toMap, "cdf sink differs from the model")
    val spark = ctx.spark
    import spark.implicits._
    val head = ManifestTable.latest(src).get
    val srcRows = ManifestTable.read(spark, src).select("id", "text").as[(Long, String)]
      .collect().toMap
    ph.check(srcRows == live.toMap, "source differs from the model")
    ph.values("files_live") = head.files.size
    ph.values("space_amp") = Disk.sizeMb(src) * 1e6 / live.values.map(_.length + 8L).sum
    ph.values("dup_recall") = ph.values.getOrElse("planted_dropped", 0.0) /
      math.max(1.0, ph.values.getOrElse("planted", 0.0))
    ph.check(ph.values("dup_recall") >= 0.9,
      f"near-dedup dropped ${ph.values("dup_recall")}%.3f of the planted near-copies")
    val truePairs = ph.values.getOrElse("pairs_true", 0.0)
    ph.values("pair_recall") = ph.values.getOrElse("pairs_found", 0.0) / math.max(1.0, truePairs)
    ph.check(truePairs == 0 || ph.values("pair_recall") >= 0.9,
      f"jaccardPairsLsh found ${ph.values("pair_recall")}%.3f of the similar pairs")
  }

  def sizes: Seq[(String, String)] = Seq(
    "table" -> (s"$seedRows seeded documents of 30-59 words over a $vocab-word vocabulary; " +
      s"each ingest offers $appendRows (${(copyFrac * 100).toInt}% planted near-copies) and " +
      s"deletes $deleteRows; $rowsIn offered in the last phase; ${live.size} live, " +
      s"$filesLive live files"),
    "curation" -> (s"LSH pairs and components over each offered batch at Jaccard >= $pairThreshold; " +
      s"$vectors $dims-dimensional vectors in $clusters planted clusters, $queries queries, " +
      s"top $topK probing all $clusters k-means cells"))
}

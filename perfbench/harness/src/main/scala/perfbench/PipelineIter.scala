package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger

import graft.iceberg.TableMetadata
import graft.operators.{BpeTrainer, Centrality, Dedup}

/** `pipeline_iter`: the engine's iterative and streaming pipeline
  * operators, each reading its input from an Iceberg table of the bench
  * catalog. Their cost is Spark jobs per round and per-window analysis,
  * not bytes.
  *
  * - `operators.components`: MinHash candidate pairs over `pi.docs`, then
  *   connected components (the pairs checked against the generated
  *   clusters, the components by union-find in the harness);
  * - `operators.pagerank`: PageRank over `pi.edges` (checked by the same
  *   integer recurrence in the harness);
  * - `operators.bpe`: BPE vocabulary training over `pi.docs` (checked by
  *   the same greedy merges in the harness);
  * - `streaming.cdc_drain`: an AvailableNow drain of `pi.cdc.changes`
  *   with update pairing, in one micro-batch, over an append,
  *   a merge-on-read MERGE and a merge-on-read DELETE (checked against the
  *   change rows replayed from a model). */
final class PipelineIter extends Workload {
  val name = "pipeline_iter"
  val tables = Seq("pi.docs", "pi.edges", "pi.cdc")

  private val Templates = 80
  private val Docs = 400
  private val WordsPerDoc = 24
  private val Vocabulary = 400
  private val Nodes = 400
  private val Edges = 2000
  private val PageRankIterations = 2
  private val Merges = 3
  private val CdcRows = 300

  private var docs = Seq.empty[(Long, String)]
  private var edges = Seq.empty[(Long, Long)]
  private var cdcParams = (11, 13)

  val warmupRounds = 2

  /** The first build after the warm-up is still slower than the rest. */
  override def timedBuilds: Int = 3

  def generate(b: Bench): Unit = {
    val rnd = new scala.util.Random(b.seed)
    val letters = "abcdefghijklmnop"
    val vocab = Vector.fill(Vocabulary)(
      Seq.fill(3 + rnd.nextInt(5))(letters(rnd.nextInt(letters.length))).mkString)
    def word() = vocab((Vocabulary * math.pow(rnd.nextDouble(), 2)).toInt)
    val templates = Vector.fill(Templates)(Vector.fill(WordsPerDoc)(word()))
    // Copies of a template differ in their last word only, so MinHash finds
    // every pair inside a cluster and the clusters, and with them the
    // components' rounds, have the same shape for every seed.
    docs = (0 until Docs).map { d =>
      val words = templates(d % Templates).updated(WordsPerDoc - 1, word())
      d.toLong -> words.mkString(" ")
    }
    edges = Iterator.continually((rnd.nextInt(Nodes).toLong, rnd.nextInt(Nodes).toLong))
      .filter { case (s, d) => s != d }.take(Edges).toSeq
    cdcParams = (9 + rnd.nextInt(4), 13 + rnd.nextInt(4))
    import b.spark.implicits._
    docs.toDF("doc_id", "text").createOrReplaceTempView("pi_docs_src")
    edges.toDF("src", "dst").createOrReplaceTempView("pi_edges_src")
  }

  /** The CDC table's commits, in order. */
  private def cdcCommits(cat: String): Seq[(String, String)] = {
    val (mergeMod, delMod) = cdcParams
    val t = s"$cat.pi.cdc"
    Seq(
      "append" -> s"INSERT INTO $t SELECT id, concat('p', CAST(id % 5 AS STRING)) FROM range(1, ${CdcRows + 1})",
      "merge" ->
        s"""MERGE INTO $t t USING (
           |  SELECT id AS k, 'M' AS v FROM range($mergeMod, ${CdcRows + 1}, $mergeMod)
           |  UNION ALL SELECT id AS k, 'R' AS v FROM range(1000, 1020)) s
           |ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin,
      "delete" -> s"DELETE FROM $t WHERE k % $delMod = 6")
  }

  /** The CDC table's state after each of its commits. */
  private def cdcStates: Seq[Map[Long, String]] = {
    val (mergeMod, delMod) = cdcParams
    val s1 = (1L to CdcRows).map(k => k -> s"p${k % 5}").toMap
    val s2 = s1.map { case (k, v) => k -> (if (k % mergeMod == 0) "M" else v) } ++
      (1000L until 1020L).map(_ -> "R")
    val s3 = s2.filterNot { case (k, _) => k % delMod == 6 }
    Seq(s1, s2, s3)
  }

  def setup(b: Bench): Seq[Sample] = {
    b.sql(s"CREATE NAMESPACE IF NOT EXISTS ${b.cat}.pi")
    b.sql(s"CREATE TABLE ${b.cat}.pi.docs (doc_id BIGINT, text STRING)")
    b.sql(s"CREATE TABLE ${b.cat}.pi.edges (src BIGINT, dst BIGINT)")
    b.sql(s"""CREATE TABLE ${b.cat}.pi.cdc (k BIGINT NOT NULL, v STRING)
             |TBLPROPERTIES ('format-version' = '3',
             |  'write.merge.mode' = 'merge-on-read',
             |  'write.delete.mode' = 'merge-on-read')""".stripMargin)
    val loads = Seq(
      b.setupCommit("append", "pi.docs",
        s"INSERT INTO ${b.cat}.pi.docs SELECT * FROM pi_docs_src", Docs),
      b.setupCommit("append", "pi.edges",
        s"INSERT INTO ${b.cat}.pi.edges SELECT * FROM pi_edges_src", Edges))
    val states = Map.empty[Long, String] +: cdcStates
    val cdc = cdcCommits(b.cat).zipWithIndex.map { case ((kind, stmt), i) =>
      b.setupCommit(kind, "pi.cdc", stmt, changes(states(i), states(i + 1)).size)
    }
    loads ++ cdc
  }

  private var expectedRanks = Map.empty[Long, Long]
  private var expectedMerges = Seq.empty[BpeTrainer.Merge]
  private var expectedChanges = Seq.empty[String]
  private var cdcOrdinal = Map.empty[Long, Int]

  def prepare(b: Bench): Unit = {
    expectedRanks = PipelineIter.pageRank(edges, PageRankIterations)
    expectedMerges = PipelineIter.bpe(docs.map(_._2), Merges)
    val states = Map.empty[Long, String] +: cdcStates
    expectedChanges = (1 until states.size).flatMap(i =>
      changes(states(i - 1), states(i)).map { case (k, v, t) => s"$k,$v,$t,$i" }).sorted
    cdcOrdinal = TableMetadata.load(b.tableDir("pi.cdc"), b.conf).snapshots
      .map(_.snapshotId).zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
  }

  /** The change rows a commit from `before` to `after` must produce. */
  private def changes(before: Map[Long, String], after: Map[Long, String]): Seq[(Long, String, String)] =
    (before.keySet ++ after.keySet).toSeq.sorted.flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(v)) => Seq((k, v, "insert"))
        case (Some(v), None) => Seq((k, v, "delete"))
        case (Some(o), Some(n)) if o != n => Seq((k, o, "update_before"), (k, n, "update_after"))
        case _ => Nil
      }
    }

  private var drains = 0

  def round(b: Bench, r: Int): Seq[Op] = {
    def table(t: String) = b.spark.table(s"${b.cat}.$t")
    Seq(
      Op("operators.components", "job", Seq("pi.docs"), () => {
        val pairs = Dedup.minhashCandidatePairs(table("pi.docs"), "doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val comps = Dedup.connectedComponents(
          b.spark.createDataFrame(pairs).toDF("qa", "qb")).collect()
        (pairs, comps)
      }, {
        case (pairs: Seq[(Long, Long)] @unchecked, comps: Array[Row]) =>
          val got = comps.map(r => r.getLong(0) -> r.getLong(1)).toMap
          PipelineIter.checkPairs(pairs, Docs, Templates)
            .orElse(if (got == PipelineIter.components(pairs)) None
              else Some(s"components differ from union-find over the engine's pairs"))
      }, counters = {
        case (pairs: Seq[(Long, Long)] @unchecked, _) =>
          Map("rounds" -> PipelineIter.labelRounds(pairs).toDouble)
      }),
      Op("operators.pagerank", "job", Seq("pi.edges"), () =>
        Centrality.pageRank(table("pi.edges"), iterations = PageRankIterations).collect(), {
        case ranks: Array[Row] =>
          val got = ranks.map(r => r.getLong(0) -> r.getLong(1)).toMap
          if (got == expectedRanks) None
          else Some(s"pagerank differs on ${(got.keySet ++ expectedRanks.keySet)
            .count(k => got.get(k) != expectedRanks.get(k))} nodes")
      }, counters = _ => Map("rounds" -> PageRankIterations.toDouble)),
      Op("operators.bpe", "job", Seq("pi.docs"), () =>
        BpeTrainer.train(table("pi.docs"), "text", Merges), {
        case merges: Seq[_] =>
          if (merges == expectedMerges) None
          else Some(s"merges ${merges.take(3)} vs ${expectedMerges.take(3)}")
      }, counters = {
        case merges: Seq[_] =>
          Map("rounds" -> (merges.size + (if (merges.size < Merges) 1 else 0)).toDouble)
      }),
      Op("streaming.cdc_drain", "job", Seq("pi.cdc"), () => drain(b), {
        case rows: Seq[_] =>
          val got = rows.asInstanceOf[Seq[Row]].map(r =>
            s"${r.getLong(0)},${r.getString(1)},${r.getString(2)},${cdcOrdinal.getOrElse(r.getLong(3), -1)}").sorted
          if (got == expectedChanges) None
          else Some(s"${got.size} change rows vs ${expectedChanges.size} replayed; " +
            s"unexpected ${got.diff(expectedChanges).take(3)}, missing ${expectedChanges.diff(got).take(3)}")
      }))
  }

  /** Drains every change of `pi.cdc` from a fresh checkpoint, all its
    * snapshots in one micro-batch, and records each batch's progress. */
  private def drain(b: Bench): Seq[Row] = {
    drains += 1
    val ckpt = s"${b.work}/checkpoints/cdc-$drains"
    val got = new ConcurrentLinkedQueue[Row]()
    val q = b.spark.readStream
      .option("compute-updates", "true")
      .option("maxSnapshotsPerTrigger", cdcStates.size.toString)
      .table(s"${b.cat}.pi.cdc.changes")
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("k", "v", "_change_type", "_commit_snapshot_id").collect().foreach(got.add)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val tracer = b.tracer
    if (tracer.enabled) q.recentProgress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val start = tracer.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      tracer.record("streaming.batch", start,
        start + (d.getOrElse("triggerExecution", 0.0) * 1e6).toLong,
        d.toMap + ("rows" -> p.numInputRows.toDouble), parent = tracer.currentRoot)
    }
    b.fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    got.asScala.toSeq
  }
}

object PipelineIter {
  /** Checks MinHash candidate pairs against the generated clusters
    * (document d belongs to cluster d % templates): no pair crosses
    * clusters, at least 99 % of the in-cluster pairs are found (LSH may
    * miss a pair with a probability of about 1e-4), and the pairs connect
    * every cluster into one component. */
  def checkPairs(pairs: Seq[(Long, Long)], docs: Int, templates: Int): Option[String] = {
    val crossing = pairs.filter { case (a, c) => a % templates != c % templates }
    val inCluster = (0 until templates).map { c =>
      val n = (c until docs by templates).size
      n * (n - 1) / 2
    }.sum
    val found = pairs.distinct.size
    val comps = components(pairs)
    val wrong = (0L until docs).count(d => comps.get(d) != Some(d % templates))
    if (crossing.nonEmpty) Some(s"${crossing.size} pairs cross clusters, e.g. ${crossing.take(3)}")
    else if (found < inCluster * 0.99) Some(s"$found of $inCluster in-cluster pairs found")
    else if (wrong > 0) Some(s"pairs leave $wrong documents outside their cluster's component")
    else None
  }

  /** Component label (the smallest id in the component) of every node in
    * `pairs`, by union-find. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, c) =>
      val (ra, rc) = (find(a), find(c))
      if (ra != rc) parent(math.max(ra, rc)) = math.min(ra, rc)
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  /** Rounds of min-label propagation with pointer jumping until no label
    * changes, the last round included: the iteration count of
    * `Dedup.connectedComponents` on `pairs`. */
  def labelRounds(pairs: Seq[(Long, Long)]): Int = {
    val nbrs = (pairs ++ pairs.map(_.swap)).distinct.groupMap(_._1)(_._2)
    var label = nbrs.keys.map(k => k -> k).toMap
    var rounds = 0
    var changed = nbrs.nonEmpty
    while (changed) {
      val minNbr = label.map { case (v, l) => v -> (l +: nbrs(v).map(label)).min }
      val jumped = minNbr.map { case (v, m) => v -> math.min(m, minNbr.getOrElse(m, m)) }
      changed = jumped.exists { case (v, l) => l < label(v) }
      label = jumped
      rounds += 1
    }
    rounds
  }

  /** `Centrality.pageRank`'s integer recurrence: score init `scale`, then
    * s' = 15% of scale + 85% of the sum of s(src) div outdeg(src). */
  def pageRank(edges: Seq[(Long, Long)], iterations: Int, scale: Long = 1000000L): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val base = 15L * scale / 100L
    var s = (e.map(_._1) ++ e.map(_._2)).distinct.map(_ -> scale).toMap
    (1 to iterations).foreach { _ =>
      val m = e.groupMapReduce(_._2) { case (src, _) => s(src) / deg(src) }(_ + _)
      s = s.map { case (v, _) => v -> (base + 85L * m.getOrElse(v, 0L) / 100L) }
    }
    s
  }

  /** Greedy BPE over the word-frequency table, one merge per round, ties
    * broken by (count desc, left asc, right asc), pairs below 2 ignored. */
  def bpe(texts: Seq[String], numMerges: Int): Seq[BpeTrainer.Merge] = {
    var words = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupMapReduce(identity)(_ => 1L)(_ + _).toSeq.map { case (w, c) => w.map(_.toString).toVector -> c }
    val out = Seq.newBuilder[BpeTrainer.Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = words.flatMap { case (sym, c) => sym.sliding(2).collect { case Seq(l, r) => (l, r) -> c } }
        .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 >= 2L)
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += BpeTrainer.Merge(rank, l, r, c)
        rank += 1
        words = words.map { case (sym, n) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < sym.size) {
            if (i + 1 < sym.size && sym(i) == l && sym(i + 1) == r) { b += l + r; i += 2 }
            else { b += sym(i); i += 1 }
          }
          b.result() -> n
        }
      }
    }
    out.result()
  }
}

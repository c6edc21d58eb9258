package perfbench

import scala.util.Random

import graft.CurationPipeline
import graft.operators.{Components, IncrementalAgg, MinHashLSH, PQ, SearchIndex, TableManifest, VectorIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Curated documents served from one standing table while new drops land
  * beside the reads.
  *
  * The standing state is a table of generated docs with a BM25 text
  * index, binary and IVF-PQ vector indexes over clustered embeddings, an
  * incremental count/sum view and a near-duplicate clustering. Each ingest
  * cycle curates a drop (with planted exact and near duplicates) through
  * the curation pipeline, lands the survivors with a keyed append that is
  * replayed once and must not double, runs an SQL MERGE and a DELETE,
  * maintains the table, and folds the change into the view, the text
  * index and the clustering. One read probe of every kind follows: range,
  * point, metadata count, a `format("graft")` filtered scan, BM25 and both
  * vector searches. A change that moves cost between writes, reads and
  * space shows here. */
final class LakehouseServe(spark: SparkSession, rec: Recorder, seed: Long,
    scale: String) extends Workload {
  private val (nDocs, groups, dropSize) =
    if (scale == "smoke") (1000, 100, 60) else (4000, 500, 300)
  private val K = 10
  private val Sources = 5
  /** Stated floors: recall@10 of a vector search, and the share of planted
    * near duplicates that near-dup removal finds (it estimates Jaccard
    * from 64 MinHashes, so a planted copy near the 0.8 threshold can be
    * missed). */
  private val RecallFloor = 0.5
  private val NearDupFloor = 0.8
  private val tr = rec.tracer
  private var work = ""
  private var docs, emb: DataFrame = _
  private var standingDocs: Gen.Corpus = _
  private var dir = ""
  private def tPath = s"$dir/docs"
  private def vPath = s"$dir/view"
  private def iPath = s"$dir/text"
  private var clusters = ""
  private var synced = 0L
  private var cycle = 0
  private var vocab: IndexedSeq[String] = _
  private val rnd = new Random(seed ^ 0x1a4e)
  private var queries: IndexedSeq[Long] = _
  private var exact: Map[Long, Set[Long]] = _
  private val recallSum = scala.collection.mutable.Map.empty[String, (Double, Int)]
  private var nearDup = (0L, 0L, 0L) // (removed, removed ∩ planted, planted)
  /** Probes of each kind after a cycle. */
  private val ProbeRounds = 2
  private val ProbeKinds = Seq("table.read_range", "table.read_point",
    "table.count_rows", "table.read_scan", "text_index.bm25_pruned",
    "vector_index.search_binary", "vector_index.search_ivfpq")

  def sizes: Seq[(String, Long)] =
    Seq("docs" -> nDocs.toLong, "vectors" -> groups * 11L,
      "drop_docs" -> dropSize.toLong,
      "probes_per_cycle" -> ProbeRounds * ProbeKinds.size.toLong)

  private def withSource(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("text"),
      concat(lit("src"), (col("doc_id") % Sources).cast("string")).as("source"),
      col("n_chars"))

  def generate(in: String): Unit = {
    work = new java.io.File(in).getParent
    def persist(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$in/$name")
      spark.read.parquet(s"$in/$name")
    }
    standingDocs = Gen.corpus(seed, nDocs, 0.0, 0.05)
    docs = persist(withSource(standingDocs.frame(spark)), "docs")
    vocab = standingDocs.vocab
    val vecs = Gen.embeddings(seed, groups, 64, 32)
    import spark.implicits._
    emb = persist(vecs.toDF("vec_id", "embedding", "label"), "emb")
    val qr = new Random(seed)
    queries = IndexedSeq.fill(32)(qr.nextInt(groups * 11).toLong).distinct
    exact = Gen.exactTopK(vecs, queries, K)
  }

  /** The standing build takes about ten seconds, and the benchmark's whole
    * run budget has no room to repeat it, so set-up time here is one
    * build. */
  override def setupReps: Int = 1

  /** One probe of each kind on the standing table. */
  def warmup(d: String): Unit =
    ProbeKinds.zipWithIndex.foreach { case (k, i) => probe(k, -1, i) }

  def standing(d: String): Unit = {
    dir = d
    tr.span("table.snapshot")(TableManifest.commitSnapshot(docs, tPath))
    tr.span("text_index.build") {
      SearchIndex.build(TableManifest.read(spark, tPath), "doc_id", "text", iPath)
    }
    tr.span("view.init") {
      IncrementalAgg.maintainTable(spark, tPath, vPath, Seq("source"), "n_chars")
    }
    tr.span("vector_index.build_binary") {
      VectorIndex.buildBinary(emb, "vec_id", "embedding", s"$dir/vbin")
    }
    tr.span("vector_index.build_ivfpq") {
      VectorIndex.buildIvfPq(emb, "vec_id", "embedding", "label", s"$dir/vivf",
        subspaces = 8, subDim = 8, residCodebook = Some(r =>
          PQ.kmeansCodebook(r, "vec_id", "__r", 8, 8, k = 16, iters = 1)))
    }
    clusters = s"$dir/clusters0"
    tr.span("dedup.cluster") {
      Components.connectedComponents(
          MinHashLSH.candidatePairs(TableManifest.read(spark, tPath), "doc_id",
            "text", minEstPpm = 800000L), "id_a", "id_b")
        .write.parquet(clusters)
    }
    synced = TableManifest.versions(spark, tPath).last
    cycle = 0
  }

  /** One ingest cycle, then one probe of each kind. */
  def pass(n: Int): Unit = runCycle()

  /** A drop: generated docs with planted exact and near duplicates among
    * themselves, plus near copies of standing docs (new clustering edges). */
  private def drop(c: Int): Gen.Corpus = {
    val idBase = 100000000L + 1000000L * c
    val d = Gen.corpus(seed * 7919 + c, dropSize, 0.05, 0.05, idBase)
    // standing doc ids start at 0, so an id is also its row index
    val copies = rnd.shuffle(standingDocs.baseIds).take(dropSize / 10)
      .zipWithIndex.map { case (id, i) =>
        val t = standingDocs.rows(id.toInt)._2 + " edit" + rnd.nextInt(1000)
        (idBase + 500000L + i, t, t.length.toLong)
      }
    d.copy(rows = d.rows ++ copies, distinct = d.distinct + copies.size)
  }

  /** MERGE source: rewritten standing docs and brand-new ones. */
  private def mergeSource(c: Int): DataFrame = {
    val upd = rnd.shuffle(standingDocs.baseIds).take(dropSize / 10).map { id =>
      val t = standingDocs.rows(id.toInt)._2 + " merged"
      (id, t, t.length.toLong)
    }
    val fresh = Gen.corpus(seed * 104729 + c, dropSize / 10, 0.0, 0.0,
      200000000L + 1000000L * c).rows
    import spark.implicits._
    withSource((upd ++ fresh).toDF("doc_id", "text", "n_chars"))
  }

  private def runCycle(): Unit = {
    val c = cycle
    cycle += 1
    val truth = drop(c)
    val incoming = truth.frame(spark)
    val curated = s"$dir/curated$c"
    mergeSource(c).createOrReplaceTempView("perfbench_merge_src")
    val before = TableManifest.countRows(spark, tPath)
    var landed: Array[Long] = Array.empty
    rec.bulkOp("lakehouse.cycle", s"cycle$c", truth.raw) {
      val counts = tr.span("curation.run_docs") {
        CurationPipeline.runDocs(spark, incoming, curated).toMap
      }
      val survivors = withSource(spark.read.parquet(curated))
      tr.span("table.append") {
        TableManifest.append(survivors, tPath, batchId = Some(c.toLong))
        TableManifest.append(survivors, tPath, batchId = Some(c.toLong)) // a replay
      }
      tr.span("table.merge") {
        spark.sql(s"""MERGE INTO graft.`$tPath` AS t USING perfbench_merge_src AS s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      }
      tr.span("table.delete") {
        TableManifest.deleteWhere(spark, tPath, s"doc_id % 211 = ${c % 211}")
      }
      tr.span("table.maintain") {
        TableManifest.maintain(spark, tPath, maxBatches = 1, keepVersions = 4,
          statsCols = Seq("doc_id"), bloomCols = Seq("doc_id", "source")).collect()
      }
      val cur = TableManifest.versions(spark, tPath).last
      tr.span("view.fold") {
        IncrementalAgg.maintainTable(spark, tPath, vPath, Seq("source"), "n_chars")
      }
      tr.span("text_index.sync") {
        SearchIndex.syncFromTable(spark, tPath, iPath, synced, cur, "doc_id", "text")
      }
      synced = cur
      tr.span("dedup.incremental") {
        val ids = spark.read.parquet(curated).select("doc_id").collect().map(_.getLong(0))
        landed = ids
        val edges = MinHashLSH.candidatePairs(TableManifest.read(spark, tPath),
            "doc_id", "text", minEstPpm = 800000L)
          .filter(col("id_a").isin(ids.toIndexedSeq: _*) || col("id_b").isin(ids.toIndexedSeq: _*))
        val next = s"$dir/clusters${c + 1}"
        Components.incrementalComponents(spark.read.parquet(clusters), edges)
          .write.parquet(next)
        clusters = next
      }
      counts
    } { counts =>
      // curation against the drop's planted truth
      val removed = truth.rows.map(_._1).toSet -- landed
      val nearRemoved = removed -- truth.exactDupIds
      val hit = (nearRemoved & truth.nearDupIds).size
      if (!rec.warming) nearDup = (nearDup._1 + nearRemoved.size,
        nearDup._2 + hit, nearDup._3 + truth.nearDupIds.size)
      require(counts("after_exact_dedup") == truth.distinct &&
        truth.exactDupIds.subsetOf(removed),
        s"exact dedup kept ${counts("after_exact_dedup")}, expected ${truth.distinct}")
      require(counts("written") == counts("after_near_dup"), "written != after_near_dup")
      require(hit >= NearDupFloor * truth.nearDupIds.size && hit >= 0.9 * nearRemoved.size,
        s"near-dup removal: $hit of ${nearRemoved.size} removed are planted, " +
          s"${truth.nearDupIds.size} planted")
      // the replayed append did not double, the deleted slice is gone, and
      // the metadata count agrees with the scan
      val isLanded = col("doc_id").isin(landed.toIndexedSeq: _*)
      val r = TableManifest.read(spark, tPath).agg(
        count(lit(1)), count(when(isLanded, 1)),
        countDistinct(when(isLanded, col("doc_id"))),
        count(when(col("doc_id") % 211 === c % 211, 1))).head()
      require(r.getLong(1) == r.getLong(2), "replay doubled rows")
      require(r.getLong(3) == 0L, "deleted rows visible")
      require(r.getLong(0) == TableManifest.countRows(spark, tPath),
        "metadata count differs from the scan")
      r.getLong(0) > before
    }
    (0 until ProbeRounds).foreach(r => ProbeKinds.zipWithIndex.foreach {
      case (k, i) => probe(k, c, r * ProbeKinds.size + i) })
  }

  private def probe(kind: String, c: Int, i: Int): Unit = {
    val lo = (rnd.nextDouble() * nDocs * 0.9).toLong
    val hi = lo + nDocs / 20
    val src = s"src${rnd.nextInt(Sources)}"
    val terms = Seq.fill(2)(vocab(rnd.nextInt(vocab.size)))
    val q = queries(rnd.nextInt(queries.size))
    val opId = s"cycle$c.probe$i"
    kind match {
      case "table.read_range" | "table.read_point" | "table.read_scan" =>
        rec.serve(kind, opId) {
          kind match {
            case "table.read_range" =>
              TableManifest.readRange(spark, tPath, Seq(("doc_id", lo, hi))).count()
            case "table.read_point" =>
              TableManifest.readPointString(spark, tPath, "source", Seq(src)).count()
            case _ =>
              spark.read.format("graft").load(tPath)
                .filter(col("doc_id").between(lo, hi)).count()
          }
        }(n => n > 0)
        if (tr.enabled && !rec.warming)
          tr.annotateLast("files_total",
            TableManifest.read(spark, tPath).inputFiles.length.toDouble)
      case "table.count_rows" =>
        rec.serve(kind, opId)(TableManifest.countRows(spark, tPath))(_ > nDocs / 2)
      case "text_index.bm25_pruned" =>
        rec.serve(kind, opId)(SearchIndex.bm25Pruned(spark, iPath, terms, K).collect())(
          r => r.length <= K)
      case _ =>
        val binary = kind.endsWith("binary")
        rec.serve(kind, opId) {
          (if (binary) VectorIndex.searchBinary(spark, s"$dir/vbin", emb, "vec_id",
              "embedding", cd => cd.filter(col("vec_id") === q), K, rerankWidth = 100)
            else VectorIndex.searchIvfPq(spark, s"$dir/vivf",
              emb.filter(col("vec_id") === q), "vec_id", "embedding", K, nProbe = 4))
            .select("neighbor_id").collect().map(_.getLong(0)).toSet
        } { got =>
          val recall = (got & exact(q)).size.toDouble / K
          if (!rec.warming) {
            val (s, n) = recallSum.getOrElse(kind, (0.0, 0))
            recallSum(kind) = (s + recall, n + 1)
          }
          require(recall >= RecallFloor, s"recall@10 $recall for query $q")
          true
        }
    }
  }

  /** LakehousePipeline's cross-checks on the final state: the maintained
    * view equals recomputation, the synced text index equals a fresh
    * build, and the metadata count equals the scan. */
  def finish(): Unit = {
    val table = TableManifest.read(spark, tPath)
    rec.check("view_equals_recompute") {
      val viewNow = TableManifest.read(spark, vPath).drop("__asof")
      val recomputed = IncrementalAgg.initialize(table, Seq("source"), "n_chars")
      viewNow.exceptAll(recomputed).isEmpty && recomputed.exceptAll(viewNow).isEmpty
    }
    rec.check("text_index_equals_fresh_build") {
      val fresh = s"$dir/text_fresh"
      SearchIndex.build(table, "doc_id", "text", fresh)
      val terms = vocab.take(2)
      SearchIndex.bm25(spark, iPath, terms, 20).collect().toSeq ==
        SearchIndex.bm25(spark, fresh, terms, 20).collect().toSeq
    }
    rec.check("metadata_count_equals_scan") {
      TableManifest.countRows(spark, tPath) == table.count()
    }
  }

  def space(): (Long, Long) = {
    TableManifest.read(spark, tPath).write.mode("overwrite").parquet(s"$work/live")
    (Main.dirBytes(tPath), Main.dirBytes(s"$work/live"))
  }

  override def ratios(): Seq[(String, Double)] = {
    val (removed, hit, planted) = nearDup
    Seq("curation.run_docs.near_dup_precision" -> (if (removed == 0) 1.0 else hit.toDouble / removed),
      "curation.run_docs.near_dup_recall" -> (if (planted == 0) 1.0 else hit.toDouble / planted)) ++
      recallSum.toSeq.map { case (kind, (s, n)) => s"$kind.recall_at_10" -> s / n }
  }
}

package perfbench

import graft.ext.{DedupClusters, MinHashLSH}
import graft.sinks.IvfIndex
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `corpus_dedup_search`: the north-star LLM-data path. Per
  * iteration: near-duplicate dedup of the corpus
  * (`MinHashLSH.nearDupPairs` → `DedupClusters.keepOnePerCluster` →
  * parquet, DedupCorpusApp's minhash path), an `IvfIndex.collect`
  * over the embedding table, then `IvfIndex.topK` calls (k = 10, 64
  * held-out queries each). Dedup is scored against the planted
  * clusters, top-k against the exact scan the generator computed. */
object CorpusDedupSearch {
  private val QueriesPerCall = 64
  /** The first call after a rebuild, and the calls before the top-k
    * path's compiled code is in place, take 2-3x longer; twelve calls
    * per iteration keep them well under half of the read samples. */
  private val TopKPerIteration = 12
  /** Dedup recall and precision, and each top-k call's recall@10,
    * measured 1.0 on every seed at the time of writing; an output
    * below the floor fails its operation. The floor lets through what
    * the quality metrics' bound lets through (a 5% loss). */
  private val QualityFloor = 0.95

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val rep = ctx.report
    val t = ctx.truth("corpus.json")
    val k = t.get("k").asInt
    val docsDir = s"${ctx.input}/docs"
    val table = s"${ctx.input}/vectors"
    val nVectors = t.get("vectors").asLong
    val tableBytes = Fs.usage(table)._2
    val truth: Map[Long, Set[Long]] = t.get("truth").properties().asScala.map { e =>
      e.getKey.toLong -> e.getValue.elements().asScala.map(_.asLong).toSet
    }.toMap
    val planted: Seq[Seq[Long]] = t.get("planted_clusters").elements().asScala
      .map(_.elements().asScala.map(_.asLong).toSeq).toSeq
    val nDocs = t.get("docs").asLong

    def dedup(docs: DataFrame, out: String): Unit = {
      val kept = DedupClusters.keepOnePerCluster(docs, MinHashLSH.nearDupPairs(docs))
      kept.write.mode("overwrite").parquet(out)
    }
    def topK(tbl: String, batch: DataFrame): Array[Row] =
      IvfIndex.topK(spark, tbl, batch, k).collect()
    // bring-up: open the corpus and cut the held-out queries into
    // client-side batches of 64 (the corpus path keeps no other state)
    def open(): (DataFrame, IndexedSeq[(DataFrame, Seq[Long])]) = {
      val q = spark.read.parquet(s"${ctx.input}/queries")
      val rows = q.orderBy("vec_id").collect()
      (spark.read.parquet(docsDir),
        rows.grouped(QueriesPerCall).map { g =>
          (spark.createDataFrame(g.toSeq.asJava, q.schema), g.map(_.getLong(0)).toSeq)
        }.toIndexedSeq)
    }

    // the top-k path keeps speeding up over ~10 calls, so the warm-up
    // runs every query batch once
    ctx.warmUp { dir =>
      val (docs, batches) = open()
      dedup(docs, s"$dir/kept")
      IvfIndex.collect(spark, table)
      for (b <- batches) topK(table, b._1)
    }
    val (docs, queryBatches) = ctx.setUp(_ => open())
    val recalls, precisions, bytesPerVec, writeAmp, topkRecall =
      mutable.ArrayBuffer.empty[Double]
    var call = 0
    ctx.loop(minIterations = 1) { i =>
      val out = s"${ctx.work}/kept-$i"
      try {
        rep.attempt("dedup")
        val (_, ds) = tr.timed("ext.dedup")(dedup(docs, out))
        rep.sample("throughput", nDocs / ds)
        val kept = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
        val (r, p) = score(kept, planted, nDocs)
        recalls += r
        precisions += p
        rep.check("dedup", r >= QualityFloor && p >= QualityFloor,
          f"kept ${kept.size} of $nDocs docs: recall $r%.4f, precision $p%.4f against the planted clusters")

        rep.attempt("index_build")
        val index = Seq(s"$table/_ivf_cells", s"$table/_ivf_cells/_centroids")
        val before = index.map(Fs.names)
        rep.sample("write", tr.timed("sinks.ivf_collect")(IvfIndex.collect(spark, table))._2)
        val fresh = index.zip(before).map { case (d, b) => Fs.written(d, b) }
        val (files, bytes) = (fresh.map(_._1).sum, fresh.map(_._2).sum)
        bytesPerVec += bytes.toDouble / nVectors
        writeAmp += bytes.toDouble / tableBytes
        if (i == 0) {
          rep.count("sinks.ivf_collect.output_files", files.toDouble)
        }

        for (_ <- 0 until TopKPerIteration) {
          val (batch, ids) = queryBatches(call % queryBatches.size)
          call += 1
          rep.attempt("topk")
          val (rows, qs) = tr.timed("sinks.ivf_topk")(topK(table, batch))
          rep.sample("read", qs)
          val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
          val hits = ids.map(q => (got.getOrElse(q, Set.empty[Long]) & truth(q)).size).sum
          val recall = hits.toDouble / (ids.size * k)
          topkRecall += recall
          rep.check("topk", rows.length == ids.size * k && recall >= QualityFloor,
            f"top-k returned ${rows.length} rows for ${ids.size} queries, recall@$k $recall%.4f against the exact scan")
        }
      } catch {
        case e: Exception => rep.fail("iteration", e.toString.take(300))
      } finally Fs.delete(out)
    }

    rep.e2e("read_recall") = topkRecall.sum / topkRecall.size
    rep.e2e("output_recall") = recalls.min
    rep.e2e("output_precision") = precisions.min
    rep.e2e("stored_bytes_per_row") = Stats.median(bytesPerVec.toSeq)
    // the cells files are written after a shuffle, so their compressed
    // size follows the record order, which varies between runs: the
    // sidecar's bytes and what top-k reads of them are medians, not counts
    rep.layer("sinks.ivf_collect.output_bytes") = Stats.median(bytesPerVec.toSeq) * nVectors
    rep.e2e("write_amp") = Stats.median(writeAmp.toSeq)

    if (tr.enabled) {
      tr.drain()
      val d = tr.named("ext.dedup").filter(_.iteration >= 0).map(tr.stats)
      val d0 = tr.stats(tr.named("ext.dedup", Some(0)).head)
      rep.layer("ext.dedup.s") = Stats.median(d.map(_.seconds))
      rep.count("ext.dedup.jobs", d0.jobs.toDouble)
      rep.layer("ext.dedup.task_s") = Stats.median(d.map(_.taskSeconds))
      // shuffle blocks are compressed in the order their records were
      // fetched, which varies between runs: medians, not counts
      rep.layer("ext.dedup.shuffle_write_bytes") = Stats.median(d.map(_.shuffleWriteBytes.toDouble))
      rep.layer("ext.dedup.spill_bytes") = Stats.median(d.map(_.spillBytes.toDouble))
      rep.layer("ext.dedup.driver_gap_s") = Stats.median(d.map(_.driverGapSeconds))

      val c = tr.named("sinks.ivf_collect").filter(_.iteration >= 0).map(tr.stats)
      rep.layer("sinks.ivf_collect.s") = Stats.median(c.map(_.seconds))
      rep.count("sinks.ivf_collect.jobs", tr.stats(tr.named("sinks.ivf_collect", Some(0)).head).jobs.toDouble)

      val q = tr.named("sinks.ivf_topk").filter(_.iteration >= 0).map(tr.stats)
      val q0 = tr.named("sinks.ivf_topk", Some(0)).map(tr.stats)
      rep.layer("sinks.ivf_topk.s_p50") = Stats.median(q.map(_.seconds))
      rep.count("sinks.ivf_topk.jobs", q0.map(_.jobs).sum.toDouble / q0.size)
      rep.layer("sinks.ivf_topk.input_bytes") = Stats.median(q.map(_.inputBytes.toDouble))
      rep.count("sinks.ivf_topk.rows_scored_per_result",
        q0.map(_.inputRecords).sum.toDouble / (q0.size * QueriesPerCall * k))
      rep.layer("sinks.ivf_topk.driver_gap_s") = Stats.median(q.map(_.driverGapSeconds))

      // untimed pass through the public stages: how many LSH
      // candidates the banding proposes, how many verify
      val cands = MinHashLSH.candidatePairs(MinHashLSH.signatures(docs)).count()
      val verified = MinHashLSH.nearDupPairs(docs).count()
      rep.count("ext.minhash.candidate_pairs", cands.toDouble)
      rep.count("ext.minhash.verified_pairs", verified.toDouble)
      rep.count("ext.minhash.pair_yield", if (cands == 0) 0.0 else verified.toDouble / cands)
    }
  }

  /** Dedup recall and precision against the planted clusters: each
    * planted cluster of size s should lose exactly s - 1 documents;
    * a removal outside any planted cluster is a false positive. */
  private def score(kept: Set[Long], planted: Seq[Seq[Long]], nDocs: Long): (Double, Double) = {
    val shouldRemove = planted.map(_.size - 1).sum
    val correct = planted.map { c =>
      val removed = c.count(d => !kept.contains(d))
      math.min(removed, c.size - 1)
    }.sum
    val removed = nDocs - kept.size
    (correct.toDouble / shouldRemove, if (removed == 0) 1.0 else correct.toDouble / removed)
  }
}

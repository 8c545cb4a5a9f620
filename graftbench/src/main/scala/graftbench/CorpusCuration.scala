package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Versioned

/** corpus_curation — the LLM-data operators over a seeded document
  * stream, in daily batches: near-dup ingest against a persisted
  * MinHash-LSH index, span dedup, curation, LM scoring, sequence
  * packing, an IVF-PQ index upsert and probe, and the survivors'
  * append. */
final class CorpusCuration(spark: SparkSession, seed: Long, rec: Recorder)
    extends Workload(spark, seed, rec) {
  import CorpusCuration._
  import spark.implicits._

  private var fixture = ""
  private var dedupIndex = ""
  private var vecIndex = ""
  private var curated = ""
  private var nextDoc = 0L
  private var nextVec = 0L
  private var docsIn = 0L
  private var docsKept = 0L
  private var curatedRows = 0L

  def mainTable: String = curated

  private def docs(from: Long, n: Long): DataFrame = {
    val s = seed
    (from until from + n).map(k => Gen.doc(s, k)).toDS().toDF()
  }

  def setup(dir: String): Unit = {
    fixture = abs(dir, "fixture")
    dedupIndex = abs(dir, "dedup_index")
    vecIndex = abs(dir, "vec_index")
    curated = abs(dir, "curated")
    val s = seed
    spark.range(0, Vectors, 1, 4).as[Long].map(k => Gen.vec(s, k)).toDF()
      .write.parquet(s"$fixture/embeddings.parquet")
    val init = docs(0, InitDocs)
    Trace.span("dedup.build_index", "graft.operators.Dedup")(
      Dedup.buildDedupIndexOf(init, dedupIndex))
    Trace.span("similarity.build_index", "graft.operators.Similarity")(
      Similarity.buildIvfPqIndex(spark, fixture, vecIndex))
    curatedRows = TextAnalysis.curatedDocs(init).count()
    traceCommit("bootstrap", curated)(
      Versioned.commit(TextAnalysis.curatedDocs(init), curated))
    nextDoc = InitDocs
    nextVec = Similarity.NumQueries
  }

  /** One layer call as one op, inside its span. */
  private def call[T](kind: String, span: String, layer: String)(
      body: => T): Option[T] =
    rec.op(kind)(Trace.span(span, layer)(body))

  private def batch(): Unit = {
    val ids = nextDoc until nextDoc + BatchDocs
    nextDoc += BatchDocs
    val in = docs(ids.head, BatchDocs)
    val verdict = call("dedup_ingest", "dedup.ingest",
      "graft.operators.Dedup") {
      Dedup.ingestDedup(spark, in, dedupIndex).collect()
    }
    verdict.foreach { v =>
      val keptIds = v.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
      if (v.map(_.getLong(0)).toSet != ids.toSet || v.length != ids.size)
        rec.fail(s"dedup verdict ids are not the batch's ids " +
          s"(${v.length} rows for ${ids.size} docs)")
      docsIn += ids.size
      docsKept += keptIds.size
      curate(in.filter(col("doc_id").isin(keptIds.toSeq: _*)), keptIds)
    }
  }

  private def curate(kept: DataFrame, keptIds: Set[Long]): Unit = {
    call("substr_dedup", "text.substr_dedup",
      "graft.operators.TextAnalysis") {
      TextAnalysis.exactSubstrDedupOf(kept).collect()
    }
    val cur = call("curate", "text.curate",
      "graft.operators.TextAnalysis") {
      TextAnalysis.curatedDocs(kept).collect()
    }
    cur.foreach { c =>
      if (!c.forall(r => keptIds.contains(r.getLong(0))))
        rec.fail("curated ids outside the dedup survivors")
      val curDf = c.map(r => (r.getLong(0), r.getString(1))).toSeq
        .toDF("doc_id", "text")
      call("lm_score", "text.lm_score", "graft.operators.TextAnalysis") {
        TextAnalysis.lmScoreOf(curDf).collect()
      }
      call("pack", "text.pack", "graft.operators.TextAnalysis") {
        TextAnalysis.sequencePackingOf(curDf).collect()
      }
      val vecs = spark.read.parquet(s"$fixture/embeddings.parquet")
        .filter(col("vec_id") >= nextVec &&
          col("vec_id") < nextVec + VecBatch)
      nextVec = if (nextVec + VecBatch >= Vectors) Similarity.NumQueries
        else nextVec + VecBatch
      call("index_upsert", "similarity.index_upsert",
        "graft.operators.Similarity") {
        Similarity.upsertIntoVectorIndex(spark, vecs, vecIndex)
      }
      call("probe", "similarity.probe", "graft.operators.Similarity") {
        Similarity.ivfPqTopKIndexed(spark, fixture, vecIndex).collect()
      }
      rec.op("append")(traceCommit("append", curated)(
        Versioned.append(curDf, curated)))
      curatedRows += c.length
      read()
    }
  }

  /** The survivors table's head, against the rows appended so far. */
  private def read(): Unit = rec.op("read") {
    val df = Trace.span("versioned.read.resolve",
      "graft.sources.Versioned")(Versioned.read(spark, curated))
    val n = Trace.span("versioned.read.execute", "spark")(df.count())
    if (n != curatedRows)
      rec.fail(s"survivors table holds $n rows, $curatedRows appended")
  }

  def warmup(): Unit = (0 until WarmupBatches).foreach(_ => batch())

  def step(): Unit = batch()

  def primaryKinds: Seq[String] = Kinds

  private var recall = Double.NaN

  /** No exact-duplicate text among the survivors, and the IVF-PQ
    * probe's top-k against the exact top-k over the same vectors. */
  def verify(): Unit = {
    val dups = Versioned.read(spark, curated).groupBy(col("text")).count()
      .filter(col("count") > 1).count()
    if (dups > 0) rec.fail(s"$dups exact-duplicate texts survived", dups)
    val approx = Similarity.ivfPqTopKIndexed(spark, fixture, vecIndex)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(spark, fixture)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    recall = (approx & exact).size.toDouble / math.max(1, exact.size)
    if (recall < RecallFloor)
      rec.fail(f"IVF-PQ recall@${Similarity.K} $recall%.3f below " +
        s"$RecallFloor")
  }

  def report(timedS: Double): Seq[Metric] = Seq(
    Metric("docs_per_s", BatchDocs * rec.lat("append").size / timedS,
      "docs/s"))

  def layerReport(incl: Map[Int, Trace.Incl]): Seq[Metric] =
    Seq("dedup_ingest" -> "dedup.ingest.ms",
      "substr_dedup" -> "text.substr_dedup.ms", "curate" -> "text.curate.ms",
      "lm_score" -> "text.lm_score.ms", "pack" -> "text.pack.ms",
      "index_upsert" -> "similarity.index_upsert.ms",
      "probe" -> "similarity.probe.ms").map { case (k, n) =>
      Metric(n, Stats.median(rec.lat(k)), "ms")
    } ++ Seq(
      Metric("dedup.kept_frac", docsKept.toDouble / math.max(1L, docsIn),
        "ratio"),
      Metric(s"similarity.recall_at_${Similarity.K}", recall, "ratio"))
}

object CorpusCuration {
  /** Documents indexed at set-up, then per batch. */
  val InitDocs = 500L
  val BatchDocs = 200L
  /** Embedding table (sf0.1 size) and vectors upserted per batch. */
  val Vectors = 1000L
  val VecBatch = 100L
  val WarmupBatches = 1
  /** The engine's own IVF-PQ gate floor is 0.35 on uniform vectors;
    * these are clustered, so the probe should do better. */
  val RecallFloor = 0.5
  val Kinds: Seq[String] = Seq("dedup_ingest", "substr_dedup", "curate",
    "lm_score", "pack", "index_upsert", "probe", "append", "read")
}

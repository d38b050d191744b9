package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashExpressions, Text, Vectors}
import graft.operators.{ConnectedComponents, IvfIndex, PqIndex}
import graft.ops.{Bucketing, DtCoercion, SortingColumnsStamp}
import graft.queries.Dedup

/** Direct calls into single layers, each timed from outside on the small
  * seeded probe inputs (the same for every workload), for the traced run.
  * Kernels run over rows cached in memory into the `noop` sink, so a
  * figure is the kernel plus a cached scan, in ns per row.
  */
final class Layers(spark: SparkSession, inputs: File, work: File, spans: Tracer,
    listener: JobListener, firstOp: Int) {

  private var nextOp = firstOp

  private def timed(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `reps` timings of `body`, each as its own op so its jobs are counted
    * apart; returns (median seconds, jobs of the last rep).
    */
  private def probe(name: String, reps: Int)(body: => Any): (Double, Int) = {
    var jobs = 0
    val ts = (1 to reps).map { _ =>
      spans.beginOp(nextOp)
      val t = timed(spans(name)(body))
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spans.endOp()
      val taken = listener.take(nextOp)._1
      spans.attribute(taken)
      jobs = taken.size
      listener.take(-1)
      nextOp += 1
      t
    }
    (Stats.median(ts), jobs)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `df` repeated `times` times and cached, with its row count. */
  private def cachedCopies(df: DataFrame, times: Int): (DataFrame, Long) = {
    val big = Seq.fill(times)(df).reduce(_ unionByName _).cache()
    (big, big.count())
  }

  def ops(): Map[String, Double] = {
    val raw = spark.read.json(new File(inputs, "findings.ndjson.gz").getPath).cache()
    raw.count()
    val (planS, _) = probe("ops.DtCoercion.coerceDtFields", 5)(DtCoercion.coerceDtFields(raw))
    val (rows, n) = cachedCopies(raw, 8)
    val (coerceS, _) = probe("ops.DtCoercion.coerceDtFields+noop", 3)(
      noop(DtCoercion.coerceDtFields(rows)))
    val dir = new File(work, "probe/unstamped")
    DtCoercion.coerceDtFields(raw).coalesce(1).write.mode("overwrite").parquet(dir.getPath)
    val part = Checks.partFiles(dir).head.toPath
    val stampS = (1 to 5).map { k =>
      val f = new File(work, s"probe/stamp-$k.parquet")
      Files.copy(part, f.toPath, StandardCopyOption.REPLACE_EXISTING)
      probe("ops.SortingColumnsStamp.stamp", 1)(
        require(SortingColumnsStamp.stamp(f.getPath, "time"), "stamp found no time column"))._1
    }
    rows.unpersist()
    raw.unpersist()
    Map(
      "ops.coerce_plan_ms" -> planS * 1e3,
      "ops.coerce_ns_per_row" -> coerceS / n * 1e9,
      "ops.stamp_ms_per_file" -> Stats.median(stampS) * 1e3)
  }

  /** Text kernels and the CC operator, over the probe corpus. */
  def text(): Map[String, Double] = {
    val docs = spark.read.parquet(new File(inputs, "docs").getPath)
    val (texts, nt) = cachedCopies(docs.select("text"), 16)
    val (minhashS, _) = probe("functions.ShingleMinHash", 5)(noop(texts.select(
      HashExpressions.shingleMinHash(Text.tokens(col("text")), k = Dedup.ShingleK,
        numPerm = Dedup.NumPerm))))
    texts.unpersist()
    // the graph goes through parquet rather than a checkpoint: CC frees
    // the blocks of an already-materialized input when it returns
    val graph = new File(work, "probe/graph").getPath
    Dedup.minhashPairs(docs, 0.7).select(col("a").as("src"), col("b").as("dst"))
      .write.mode("overwrite").parquet(s"$graph/edges")
    docs.select(col("doc_id").as("id")).write.mode("overwrite").parquet(s"$graph/nodes")
    val (ccS, ccJobs) = probe("operators.ConnectedComponents.run", 3)(noop(ConnectedComponents.run(
      spark.read.parquet(s"$graph/nodes"), spark.read.parquet(s"$graph/edges"))))
    Map(
      "functions.minhash_ns_per_row" -> minhashS / nt * 1e9,
      "operators.cc_s" -> ccS,
      "operators.cc_jobs" -> ccJobs.toDouble)
  }

  /** Vector kernels and the IVF-PQ shortlist, over the probe vectors. */
  def vectors(): Map[String, Double] = {
    val corpus = spark.read.parquet(new File(inputs, "corpus.parquet").getPath)
    val batch = spark.read.parquet(new File(inputs, "queries.parquet").getPath)
    val queries = spark.createDataFrame(batch.collect().toSeq.asJava, batch.schema)
    val q = queries.head().getSeq[Float](1)
    val (vecs, nv) = cachedCopies(corpus.select("embedding"), 16)
    val (unitS, _) = probe("functions.unit_vector", 5)(noop(vecs.select(Vectors.unit(col("embedding")))))
    val (cosS, _) = probe("functions.cosine", 5)(
      noop(vecs.select(Vectors.cosine(col("embedding"), typedlit(q)))))
    vecs.unpersist()
    val ivf = IvfIndex.fit(corpus.coalesce(1), k = 16, maxIter = 5)
    val pq = PqIndex.fit(corpus.coalesce(1), m = 16, numCodes = 16, maxIter = 10)
    // encode once: each copy of an encoding plan would compile its own
    // (large) generated code
    val encoded = corpus.select(pq.encode(col("embedding")).as("codes")).cache()
    encoded.count()
    val (codes, nc) = cachedCopies(encoded, 16)
    encoded.unpersist()
    val table = queries.limit(1).select(pq.adcTable(col("embedding")).as("tbl"))
    val (adcS, _) = probe("functions.adcScore", 3)(
      noop(codes.crossJoin(broadcast(table)).select(pq.adcScore(col("tbl"), col("codes")))))
    codes.unpersist()
    val codesPath = new File(work, "probe/codes").getPath
    Bucketing.writePartitioned(PqIndex.assign(ivf, pq, corpus), codesPath, Seq("bucket"))
    val index = spark.read.parquet(codesPath)
    val (shortlistS, _) = probe("operators.PqIndex.adcShortlistIndexed", 3)(
      PqIndex.adcShortlistIndexed(ivf, pq, queries, index, k = 5, nProbe = 4).collect())
    Map(
      "functions.unit_vector_ns_per_row" -> unitS / nv * 1e9,
      "functions.cosine_ns_per_row" -> cosS / nv * 1e9,
      "functions.adc_ns_per_row" -> adcS / nc * 1e9,
      "operators.pq_shortlist_s" -> shortlistS)
  }
}

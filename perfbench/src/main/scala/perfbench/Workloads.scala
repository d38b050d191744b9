package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.pipeline.ConvertJob
import graft.queries.Dedup

/** What one op produced, as the output check saw it. */
final case class OpOut(records: Long, inBytes: Long, outBytes: Long, problems: Seq[String])

/** One benchmark workload: a closed loop of ops from one client thread.
  * [[op]] makes the timed calls into the program and returns the untimed
  * output check.
  */
trait Workload {
  def name: String

  /** Ops every phase runs, however long they take. */
  val minOps = 3

  /** Op `i` (negative for the untimed warm-up ops). */
  def op(i: Int, spans: Tracer.Spans): () => OpOut

  /** Output quality over the first [[minOps]] ops of a run, by metric name. */
  def quality: Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, in: File, work: File): Workload = name match {
    case "convert_bulk" => new ConvertBulk(spark, in, work)
    case "dedup" => new DedupCorpus(spark, in)
  }

  /** The generator's `truth.json`, a flat or one-level nested JSON object. */
  def truth(in: File): Map[String, Any] = {
    val src = scala.io.Source.fromFile(new File(in, "truth.json"))
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(src.mkString, classOf[java.util.Map[String, Any]]).asScala.toMap
    } finally src.close()
  }
}

/** The reference's default job through the default multi-file,
  * range-sorted path: one gzipped NDJSON object in, sorted zstd Parquet
  * parts out, checked from their footers.
  */
final class ConvertBulk(spark: SparkSession, in: File, work: File) extends Workload {
  val name = "convert_bulk"
  private val src = new File(in, "bulk.ndjson.gz")
  private val records = Workload.truth(in)("records").toString.toLong

  def op(i: Int, spans: Tracer.Spans): () => OpOut = {
    val out = new File(work, s"out/op-$i")
    val res = spans("pipeline.ConvertJob.run")(ConvertJob.run(spark, src.getPath, out.getPath))
    () => {
      val c = Checks.converted(Checks.partFiles(out), records)
      Checks.rmrf(out)
      val reported = if (res.rows == records) Nil else Seq(s"result says ${res.rows} rows")
      OpOut(records, src.length, c.bytes, c.problems ++ reported)
    }
  }
}

/** The tiered dedup pipeline over a corpus of parquet shards with planted
  * exact and near duplicates.
  */
final class DedupCorpus(spark: SparkSession, in: File) extends Workload {
  val name = "dedup"
  private val t = Workload.truth(in)
  private val docs = t("docs").toString.toLong
  private val planted: Map[Long, Long] = t("planted").asInstanceOf[java.util.Map[String, Any]]
    .asScala.map { case (k, v) => k.toLong -> v.toString.toLong }.toMap
  private val shards = new File(in, "docs")
  private val shardBytes =
    Option(shards.listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet")).map(_.length).sum
  private var found = 0L
  private var checkedOps = 0

  private def dispositions(rows: Array[Row], want: Long): Seq[String] = {
    val ids = rows.map(_.getAs[Long]("doc_id"))
    val tiers = rows.map(_.getAs[String]("tier")).toSet -- Set("keep", "exact_dup", "near_dup")
    (if (ids.length != want || ids.distinct.length != want)
      Seq(s"${ids.length} dispositions for ${ids.distinct.length} docs, want one for each of $want")
    else Nil) ++ (if (tiers.nonEmpty) Seq(s"unknown tiers $tiers") else Nil)
  }

  def op(i: Int, spans: Tracer.Spans): () => OpOut = {
    val rows = spans("queries.Dedup.fullDedupPipeline")(
      Dedup.fullDedupPipeline(spark.read.parquet(shards.getPath)).collect())
    () => {
      val problems = dispositions(rows, docs)
      if (i >= 0 && i < minOps) {
        found += rows.count { r =>
          planted.get(r.getAs[Long]("doc_id")).exists(base =>
            r.getAs[String]("tier") != "keep" && r.getAs[Long]("canonical") == base)
        }
        checkedOps += 1
      }
      OpOut(docs, shardBytes, 0L, problems)
    }
  }

  override def quality: Map[String, Double] =
    Map("dup_recall" -> (if (checkedOps == 0) 0.0 else found.toDouble / (planted.size.toLong * checkedOps)))
}

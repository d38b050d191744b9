package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import java.util.zip.GZIPOutputStream

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.Random

import graft.gen.Findings

/** Seeded gzipped-NDJSON inputs for the convert workload, made with the
  * program's own load generator ([[graft.gen.Findings]]). Runs in its own
  * JVM before the measured one, so generation never warms the measured
  * process. Writes `truth.json` (the record count) for the output check.
  *
  * {{{ java -cp ... perfbench.Gen <convert_bulk|probe> <seed> <dir> }}}
  */
object Gen {

  /** Records in the one object a convert_bulk op converts. */
  val BulkRecords = 6000

  /** Records in the sample the direct `ops` calls of a traced run use. */
  val ProbeRecords = 2000

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, dir) = args
    val seed = seedArg.toLong
    new java.io.File(dir).mkdirs()
    val (name, n) = workload match {
      case "convert_bulk" => ("bulk", BulkRecords)
      case "probe" => ("findings", ProbeRecords)
      case other => sys.error(s"no NDJSON inputs for workload $other")
    }
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try writeObject(s"$dir/$name.ndjson.gz", n, seed)
    finally pool.shutdown()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/truth.json"),
      s"""{"records": $n}""".getBytes(StandardCharsets.UTF_8))
  }

  /** One object of `n` records in shuffled `time` order (the conversion's
    * global sort then has real work to do), rendered in parallel chunks
    * and written in order.
    */
  private def writeObject(path: String, n: Int, seed: Long)(
      implicit ec: ExecutionContext): Unit = {
    val order = new Random(seed).shuffle(Vector.range(0, n))
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path), 1 << 16),
      StandardCharsets.UTF_8), 1 << 20)
    try order.grouped(2000).foreach { chunk =>
      val parts = chunk.grouped(250).toSeq.map(g =>
        Future(g.map(i => Findings.record(i, seed).render).mkString("", "\n", "\n")))
      Await.result(Future.sequence(parts), Duration.Inf).foreach(w.write)
    } finally w.close()
  }
}

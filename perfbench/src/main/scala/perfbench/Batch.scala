package perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables

/** Admin and training-data jobs: a closed loop of passes over a fixed
  * list of `SparkEntry.queries`, in a seeded order per pass. Every query
  * run writes its result as parquet under `<out>/batch-out/pass<p>/`
  * together with its `SparkEntry.oracleSql` entry; after the run,
  * `run.py` checks the first pass against DuckDB and every later pass
  * against the first. */
final class Batch(o: Opts) extends Workload {
  import Batch._

  final class State(val dir: String)

  /** The jobs read the sf0.01 test tables in place; nothing to stage. */
  def setup(spark: SparkSession, dir: String): State = new State(o.dataDir("sf0.01"))

  /** As graft.Bench warms up: touch every table once. */
  def warmUp(spark: SparkSession, st: State): Unit =
    Tables.all.foreach(t => if (t == "events") Tables.events(spark, st.dir).count() else Tables.load(spark, st.dir, t).count())

  def run(spark: SparkSession, st: State, tr: Tracer): RunResult = {
    val outRoot = s"${o.out}/batch-out"
    Fs.deleteRecursively(new java.io.File(outRoot))
    val oracle = Json.write(Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    val runs = collection.mutable.ArrayBuffer[(String, Double)]()
    val passes = collection.mutable.ArrayBuffer[Double]()
    var failed = 0
    var injected = !o.inject
    val t0 = System.nanoTime()
    var p = 0
    // passes until the window is used: another only if one more fits
    while (p < MinPasses || (System.nanoTime() - t0) / 1e6 + Stats.median(passes.toSeq) <= o.seconds * 1000) {
      val order = Seeded.shuffle(Queries, new SplittableRandom(o.seed * 1009 + p))
      val dir = Fs.mkdirs(s"$outRoot/pass$p")
      Fs.writeString(s"$dir/oracle_sql.json", oracle)
      val ps = System.nanoTime()
      order.foreach { q =>
        val s = System.nanoTime()
        try tr.op(q) {
          tr.span(s"SparkEntry.queries($q)", "graft.SparkEntry") {
            val df = SparkEntry.queries(q)(spark, st.dir)
            val out = if (injected) df else {
              injected = true
              spark.createDataFrame(df.collect().toSeq.drop(1).asJava, df.schema)
            }
            out.write.mode("overwrite").parquet(s"$dir/$q")
          }
        } catch { case e: Throwable => failed += 1; System.err.println(s"batch: $q failed: $e") }
        runs += q -> (System.nanoTime() - s) / 1e6
      }
      passes += (System.nanoTime() - ps) / 1e6
      p += 1
    }
    val total = (System.nanoTime() - t0) / 1e9
    RunResult(
      latencyMs = passes.toSeq,
      throughput = runs.size / total,
      attempted = runs.size,
      failed = failed,
      rowsOut = 0L,
      detail = Map("pass_s" -> Stats.median(passes.toSeq) / 1000, "passes" -> passes.size, "batch_out" -> outRoot, "data_dir" -> st.dir) ++
        runs.groupBy(_._1).map { case (q, xs) => s"batch.${q}_s" -> Stats.median(xs.map(_._2 / 1000).toSeq) },
      layer = Layers.none)
  }
}

object Batch {
  /** The jobs: a TPC-H join, an n-gram kernel, cluster dedup,
    * embedding-similarity dedup and a graph job. Left out to keep a run
    * short: q22_minhash_lsh (its DuckDB oracle alone takes ~50 s) and
    * q67_prep_pipeline (~8 s, the longest job). */
  val Queries: Seq[String] = Seq("q06_multi_join", "q54_ngram_prefix", "q59_cluster_dedup",
    "q73_semdedup", "q115_copurchase_pagerank")
  val MinPasses = 1
}

package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line options of one harness run. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    out: String,
    smoke: Boolean,
    inject: Boolean,
    cores: Int,
    phaseAOnly: Boolean,
    data: String) {
  /** The test tables at scale `sf` (smoke runs: always sf0.001). */
  def dataDir(sf: String): String = s"$data/${if (smoke) "sf0.001" else sf}"
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String) = kv.getOrElse(k, d)
    Opts(
      workload = kv("workload"),
      seed = get("seed", "1").toLong,
      seconds = get("seconds", "20").toDouble,
      trace = get("trace", "0") == "1",
      out = kv("out"),
      smoke = get("smoke", "0") == "1",
      inject = get("inject", "0") == "1",
      cores = get("cores", "4").toInt,
      phaseAOnly = get("phase-a-only", "0") == "1",
      data = kv("data"))
  }
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit = System.err.println(f"perfbench ${(System.currentTimeMillis() - t0) / 1000.0}%7.2f $msg")
}

object Stats {
  /** Linear-interpolated percentile (numpy's default rule); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** The tail percentile a run of `n` samples supports: 95, or lower so
    * that at least 10 samples lie beyond it. */
  def tailPercentile(n: Int): Double = math.max(50.0, math.min(95.0, 100.0 * (1 - 10.0 / math.max(n, 1))))
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON writer for nested Maps/Seqs of numbers, strings, booleans. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Fs {
  def mkdirs(p: String): String = { new File(p).mkdirs(); p }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Every regular file under `dir`, hidden names (`.crc`, `_SUCCESS`) excluded. */
  def files(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    walk(new File(dir))
  }

  /** Write `df` as ONE parquet file `<dir>/<name>.parquet`: the layout
    * graft's `Tables.load` and the DuckDB oracle both read. */
  def writeTable(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/.tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(new File(tmp))
  }

  def writeString(p: String, s: String): Unit = {
    val path: Path = Paths.get(p)
    Option(path.getParent).foreach(d => Files.createDirectories(d))
    Files.writeString(path, s)
  }
}

/** The session `graft.Bench` ships, sized by `cores`, with scratch and
  * warehouse directories kept inside the run directory. */
object Session {
  def start(cores: Int, scratch: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Fs.mkdirs(s"$scratch/spark-local"))
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

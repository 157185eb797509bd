package perfbench

import graft.SparkEntry
import graft.queries.{CrawlQueries, CrawlRelational}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The testdata queries of `SparkEntry.queries`, timed one at a time,
  * each checked against its pinned expectation after its timed region. */
object ReadSuite {

  /** Per-layer grouping of the query names. */
  def group(name: String): String =
    if (CrawlRelational.queries.contains(name)) "queries.relational"
    else if (name.startsWith("q_dedup_")) "ops.dedup"
    else if (name.startsWith("q_ann_") || name.startsWith("q_sim_")) "ops.ann"
    else "ops.text"

  /** The testdata queries: every `SparkEntry` query except the
    * crawl-store ones, which need a store at `CrawlQueries.cfgFor` size
    * (README.md, "What is not measured"). */
  val names: Seq[String] =
    SparkEntry.queries.keys.filterNot(CrawlQueries.queries.contains).toSeq.sorted

  /** Doubles rounded, maps as sorted entry arrays: a hash that does not
    * depend on row order, partitioning or last-bit float noise. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** Row count and order-insensitive content hash, in one Spark action. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map(f => canon(df.col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  final case class Pinned(rows: Long, hash: String)

  def loadPinned(path: Path): Map[String, Pinned] =
    Files.readAllLines(path).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, hash) = l.split("\t")
        n -> Pinned(rows.toLong, hash)
      }.toMap

  final case class QueryRun(name: String, seconds: Double, result: Option[(Long, String)],
                            problem: Option[String])

  /** One pass over every query, closed loop. `expect` gives the pinned
    * fingerprint; a throw or a difference is a failure. */
  def pass(spark: SparkSession, dataDir: String,
           expect: String => Option[(Long, String)], spans: Spans, parent: Int): Seq[QueryRun] =
    names.map { name =>
      val s = Clock.now()
      val got = scala.util.Try(fingerprint(SparkEntry.queries(name)(spark, dataDir)))
      val e = Clock.now()
      spans.add(parent, "query", name, s, e)
      val problem = got match {
        case scala.util.Failure(t) => Some(s"$name threw: $t")
        case scala.util.Success(r) => expect(name).filter(_ != r)
          .map(w => s"$name: got rows/hash $r, expected $w")
      }
      QueryRun(name, e - s, got.toOption, problem)
    }

  /** Write each query's output and its DuckDB SQL the way `graft.Verify`
    * does, so `tools/check_oracle.py` can compare them. */
  def dump(spark: SparkSession, dataDir: String, out: Path): Unit = {
    Files.createDirectories(out)
    names.foreach { n =>
      SparkEntry.queries(n)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(n).toString)
    }
    val sql = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
      .toSeq.sortBy(_._1)
      .map { case (n, q) => s"${Stats.jsonString(n)}: ${Stats.jsonString(q)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.writeString(out.resolve("oracle_sql.json"), sql)
  }
}

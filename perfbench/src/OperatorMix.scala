package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Registry queries from `Bench`'s headline set, run one after another in an
  * order drawn from the seed, each consumed by the `noop` sink (every output
  * column). Cached and persisted state is dropped between queries, outside
  * the timed window, as `Bench` does. The tables are generated from a fixed
  * seed, so result hashes can be compared with a recorded file. The hash
  * check runs before the timed pass and warms the JVM for it, so the mix
  * measures warm per-query latency, as `Bench` does.
  */
final class OperatorMix(ctx: Ctx) extends Workload {
  import OperatorMix._

  private var data = ""
  private val order: Seq[String] = new scala.util.Random(ctx.args.seed).shuffle(Queries)
  private var okOps = 0

  def minIterations: Int = 2
  override def checkFirst: Boolean = true
  def partNames: (String, String, String) = ("light_queries_s", "heavy_queries_s", "mix_wall_s")

  // a generation writes ten tables through Spark; two keep set-up short
  override def setupRepeats: Int = 2

  def setup(k: Int): Unit = {
    data = ctx.dir(s"mix/data$k")
    MixData.write(ctx.spark, data, Sf, DataSeed)
  }

  private val perQuery = scala.collection.mutable.ArrayBuffer[(String, Double)]()

  def iteration(i: Int): Sample = {
    val spark = ctx.spark
    val (_, wall) = ctx.clock(order.foreach { q =>
      val (_, t) = ctx.clock(ctx.span(q, "queries")(consume(graft.SparkEntry.queries(q)(spark, data))))
      perQuery += q -> t
      dropState(spark)
    })
    Sample(0, 0, wall)
  }

  /** Per query, the faster of its warm passes, as `Bench` keeps its warm
    * minimum: with two passes a median is their mean, and one GC or JIT
    * stall in either would move it. part1 sums the sub-second, floor-bound
    * queries, part2 the heavy ones; iter is the faster pass. */
  override def summarize(s: Seq[Sample]): Sample = {
    val best = perQuery.groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2).min }
    perQuery.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (q, ts) =>
      println(s"# $q ${ts.map(_._2).mkString(" ")}")
    }
    val times = best.values.toSeq
    println(s"# query_p50_s = ${Trace.quantile(times, 0.5)}")
    println(s"# query_p75_s = ${Trace.quantile(times, 0.75)}")
    Sample(Light.toSeq.map(best).sum, Heavy.toSeq.map(best).sum, s.map(_.iter).min)
  }

  def check(): Seq[String] = {
    val spark = ctx.spark
    val expected = readExpected(Path.of(ctx.args.root, ExpectedFile))
    val failures = Queries.flatMap { q =>
      val got = try Right(fingerprint(graft.SparkEntry.queries(q)(spark, data)))
        catch { case e: Throwable => Left(e.toString) }
      dropState(spark)
      (got, expected.get(q)) match {
        case (Left(err), _) => Some(s"$q failed: $err")
        case (_, None) => Some(s"$q has no recorded result")
        case (Right((rows, hash)), Some((eRows, eHash, byHash))) =>
          if (rows != eRows) Some(s"$q returned $rows rows, recorded $eRows")
          else if (byHash && hash != eHash) Some(s"$q result hash $hash, recorded $eHash")
          else { okOps += 1; None }
      }
    }
    failures
  }

  def okShare: Double = okOps.toDouble / Queries.size

  def layerExtras: Map[String, Double] = Map.empty
}

object OperatorMix {
  /** Scale of the generated tables (sf 0.01 is the repo's oracle scale). */
  val Sf = 0.002
  val DataSeed = 42L
  /** Recorded results, one line per query: `query \t rows \t hash \t check`,
    * where check is `hash`, or `rows` for a query whose hash is not stable. */
  val ExpectedFile = "perfbench/mix_expected.tsv"

  /** Seven of `Bench`'s sixty headline queries, as many as fit the run
    * budget: the operator library's families (relational, dedup, text
    * retrieval, similarity) plus the three that reach the pipeline modules:
    * q60 (Preprocessing), q61 (LinkState) and q64 (Models). */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q21_dedup_first", "q48_cosine_topk", "q60_immo_pipeline",
    "q61_link_lifecycle", "q64_ml_leaderboard", "q86_bm25_topk")

  /** Sub-second at the shipped scale, so bound by Spark's per-job floor. */
  val Light: Set[String] = Set("q01_pricing_summary", "q21_dedup_first", "q48_cosine_topk",
    "q86_bm25_topk")
  val Heavy: Set[String] = Queries.toSet -- Light

  def consume(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def dropState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }

  /** Row count and an order-insensitive hash of a result. Floating-point
    * values are compared to 6 significant digits. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(canon).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toPlainString

  def readExpected(p: Path): Map[String, (Long, String, Boolean)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).toArray(Array.empty[String]).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).map { f =>
        f(0) -> (f(1).toLong, f(2), f(3) == "hash")
      }.toMap
}

/** Records the operator mix's expected results: two passes over the queries
  * in opposite orders; a query whose hash differs between them is checked by
  * row count only. Run it through `perfbench/run.py --record-mix`. */
object RecordMix {
  def main(argv: Array[String]): Unit = {
    val Array(work, out) = argv
    val spark = graft.jobs.JobSession.build("perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    val data = s"$work/data"
    MixData.write(spark, data, OperatorMix.Sf, OperatorMix.DataSeed)
    def pass(order: Seq[String]) = order.map { q =>
      val r = q -> OperatorMix.fingerprint(graft.SparkEntry.queries(q)(spark, data))
      OperatorMix.dropState(spark)
      r
    }.toMap
    val a = pass(OperatorMix.Queries)
    val b = pass(OperatorMix.Queries.reverse)
    val lines = OperatorMix.Queries.map { q =>
      val ((rows, hash), (rowsB, hashB)) = (a(q), b(q))
      require(rows == rowsB, s"$q row count differs between passes: $rows vs $rowsB")
      s"$q\t$rows\t$hash\t${if (hash == hashB) "hash" else "rows"}"
    }
    Files.writeString(Path.of(out),
      lines.mkString("# query\trows\thash\tcheck\n", "\n", "\n"))
    spark.stop()
  }
}

package perfbench

import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.functions.IvfPqStore
import graft.pipelines.TsePipelines
import graft.sources.{Landing, Sinks, Tables}

/** A workload: what one pass does, and the checks on its outputs. */
trait Workload {
  /** Untimed passes after set-up, before the timed ones. */
  def warmPasses: Int = 1
  /** The program's work a pass builds on (state the workload's users
    * already hold before it); part of set-up. */
  def setup(p: Pass): Unit = ()
  /** Untimed, before every pass: back to the state `setup` left. */
  def reset(p: Pass): Unit = ()
  def pass(p: Pass): Unit
  /** Untimed output checks after a pass. */
  def check(p: Pass): Unit = ()
  /** Directories the pass's sinks and stores wrote under. */
  def outputs(p: Pass): Seq[Path] = Nil
}

object Workloads {
  /** Iterative catalog operators: job-bound work (Spark-driver round trips and
    * eager actions during construction). */
  val Iterative = Seq("q186_shortest_paths")

  def apply(name: String, inputs: Path, expected: JsonNode): Workload = name match {
    case "tse_etl"       => new TseEtl(expected, inputs.resolveSibling("tse-base"))
    case "iterative_ops" => new IterativeOps(inputs.resolve("tables"), expected)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Canonical text of a row: shared with gen.py's digest. */
  def canon(r: Row): String =
    (0 until r.length).map(i => if (r.isNullAt(i)) "\\N" else r.get(i).toString)
      .mkString("\t")

  def digest(lines: Seq[String]): (Int, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lines.sorted.mkString("\n").getBytes("UTF-8"))
    (lines.size, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}

/** Catalog queries through `SparkEntry.queries` into the noop sink; the
  * check pass writes them as parquet for the DuckDB oracle instead. */
final class CatalogQueries(queries: Seq[String], tables: Path) extends Workload {
  private val entry = SparkEntry.queries
  def results(p: Pass): Path = p.dir.resolve("results")

  def pass(p: Pass): Unit = queries.foreach { q =>
    p.op(q) {
      p.span(s"op.$q") {
        val df = p.span("catalog.construct") { entry(q)(p.spark, tables.toString) }
        p.span("catalog.sink") {
          if (p.check) df.write.mode("overwrite").parquet(results(p).resolve(q).toString)
          else df.write.format("noop").mode("overwrite").save()
        }
      }
    }
    // a query's local checkpoints are garbage once it is sunk (graft.Bench
    // drops them the same way)
    p.spark.sparkContext.getPersistentRDDs.values
      .filter(r => r.isCheckpointed && r.getCheckpointFile.isEmpty)
      .foreach(_.unpersist(blocking = false))
  }
}

/** The reference's four pipelines over seeded TSE batches: land a year's
  * ZIPs, scan the CSVs, run the pipelines and upsert four parquet tables.
  * Set-up loads every year but the last into `base`; each pass loads the
  * last year into a copy of those tables, as the reference's run for a
  * new election year merges into the tables the earlier years left. */
final class TseEtl(expected: JsonNode, base: Path) extends Workload {
  /** A sink table: its upsert keys, the columns its check digests and
    * the pipeline that writes its final rows. */
  private case class Table(keys: Seq[String], cols: Seq[String], op: String)
  private val tables = Map(
    "parties" -> Table(Seq("party_number"),
      Seq("party_number", "initials", "party_name"), "seed_parties"),
    "politicians" -> Table(Seq("full_name", "nickname"),
      Seq("full_name", "nickname"), "seed_politicians"),
    "elections" -> Table(Seq("election_year", "turn", "election_type"),
      Seq("election_year", "turn", "election_type", "election_date"), "seed_candidacies"),
    "candidacies" -> Table(Seq("sq_candidate_tse", "election_year", "turn"),
      Seq("full_name", "nickname", "party_number", "election_year", "turn",
        "election_type", "office", "electoral_number", "sq_candidate_tse",
        "total_votes_received", "status_resultado"), "update_results"))
  private val batches = expected.get("batches").elements().asScala.toSeq
  /** Rows per pass whose checked columns a sink write changes (new keys
    * plus keys with new values), as the generator derives them. */
  val changedRows: Long = batches.last.get("changed_rows").asLong
  /** Set-up loads the earlier year into empty tables, which skips most
    * merges a pass runs; after one warm pass the first timed pass still
    * ran 10–45% slower than the next (4 cores), so a second one. */
  override def warmPasses: Int = 2

  private def root(p: Pass) = p.dir.resolve("tse")
  private def table(dir: Path, t: String) = dir.resolve("tables").resolve(t).toString
  override def outputs(p: Pass): Seq[Path] = Seq(root(p).resolve("tables"))

  override def setup(p: Pass): Unit = {
    Pass.deleteTree(base)
    batches.init.foreach(load(p, base, _))
  }

  override def reset(p: Pass): Unit = {
    Pass.deleteTree(root(p))
    Pass.copyTree(base.resolve("tables"), root(p).resolve("tables"))
  }

  def pass(p: Pass): Unit = load(p, root(p), batches.last)

  /** One year's batch into the tables under `dir`. */
  private def load(p: Pass, dir: Path, b: JsonNode): Unit = {
    val spark = p.spark
    def sink(df: DataFrame, t: String): Unit = p.span("sources.sink") {
      val keys = tables(t).keys
      Sinks.upsertParquet(df, table(dir, t), keys, keys.map(col))
    }
    val noParties = spark.createDataFrame(java.util.List.of[Row](), StructType(Seq(
      StructField("party_number", LongType), StructField("initials", StringType),
      StructField("party_name", StringType))))
    val noPoliticians = spark.createDataFrame(java.util.List.of[Row](), StructType(Seq(
      StructField("full_name", StringType), StructField("nickname", StringType))))
    val year = b.get("year").asInt
    val land = dir.resolve("landing").resolve(year.toString)
    val in = p.op("land") {
      p.span("sources.land") {
        Landing.expandZipCsvs(Paths.get(b.get("cand_zip").asText), land.resolve("cand").toString)
        Landing.expandZipCsvs(Paths.get(b.get("votes_zip").asText), land.resolve("votes").toString)
      }
      p.span("sources.csv_schema") {
        (Tables.tseCsv(spark, land.resolve("cand").toString),
          Tables.tseCsv(spark, land.resolve("votes").toString))
      }
    }
    def cand = in.get._1.withColumn("__ord", monotonically_increasing_id())
    def votes = in.get._2.withColumn("__ord", monotonically_increasing_id())
    p.op("seed_parties") {
      p.span("pipelines.seed_parties") {
        sink(TsePipelines.seedParties(cand, noParties, "__ord"), "parties")
      }
    }
    p.op("seed_politicians") {
      p.span("pipelines.seed_politicians") {
        sink(TsePipelines.seedPoliticians(cand, noPoliticians, "__ord"), "politicians")
      }
    }
    p.op("seed_candidacies") {
      p.span("pipelines.seed_candidacies") {
        sink(TsePipelines.deriveElections(cand), "elections")
        def read(t: String) = spark.read.parquet(table(dir, t))
        sink(TsePipelines.seedCandidacies(cand, read("parties"),
            read("politicians"), read("elections"))
          .withColumn("total_votes_received", lit(null).cast(LongType))
          .withColumn("status_resultado", lit(null).cast(StringType)), "candidacies")
      }
    }
    p.op("update_results") {
      p.span("pipelines.update_results") {
        val mine = spark.read.parquet(table(dir, "candidacies"))
          .filter(col("election_year") === year)
        // the reference's miss warning, read before the sink swaps the table
        val misses = TsePipelines.resultMisses(votes, mine).collect().map(_.getString(0)).toSet
        val want = b.get("misses").elements().asScala.map(_.asText).toSet
        if (misses != want)
          p.fail("update_results", s"$year miss set: ${misses.size} keys, expected ${want.size}")
        sink(TsePipelines.updateResults(votes, mine, "__ord"), "candidacies")
      }
    }
  }

  override def check(p: Pass): Unit = tables.foreach { case (t, spec) =>
    val want = expected.get("tables").get(t)
    val got = scala.util.Try(Workloads.digest(p.spark.read.parquet(table(root(p), t))
      .select(spec.cols.map(col): _*).collect().toSeq.map(Workloads.canon)))
    if (!got.toOption.contains((want.get("count").asInt, want.get("sha256").asText)))
      p.fail(spec.op, s"table $t: got ${got.map(_._1)}, expected ${want.get("count").asInt} " +
        "rows or a different digest", n = batches.size)
  }
}

/** An on-disk IVF×PQ store (the q260 shape) through its public API, in
  * a fresh directory every pass: built on 90% of the vectors, the other
  * 10% appended, then one client sends a closed loop of top-10 requests.
  *
  * Every answer must keep the store's contract: 10 distinct corpus ids in
  * ascending distance, each distance the exact squared L2 (the refine
  * stage is exact). Recall@10 against the exact top-10 is recorded as a
  * quality figure: it depends on the data, so it is measured, not gated. */
final class IvfPqLifecycle(tables: Path, expected: JsonNode) extends Workload {
  /** Per request: the query and every corpus id's exact squared L2, as
    * the generator derives them. */
  private val queries: Seq[(Seq[Float], Map[Long, Double])] =
    expected.get("requests").elements().asScala.toSeq.map { r =>
      (r.get("vec").elements().asScala.map(_.floatValue).toSeq,
        r.get("exact").elements().asScala.zipWithIndex
          .map { case (d, id) => id.toLong -> d.doubleValue }.toMap)
    }

  private def vectors(spark: SparkSession) = spark.read
    .parquet(tables.resolve("embeddings.parquet").toString)

  private def store(p: Pass) = p.dir.resolve("store").resolve("ivfpq")
  override def outputs(p: Pass): Seq[Path] = Seq(store(p))

  override def reset(p: Pass): Unit = Pass.deleteTree(store(p))

  def pass(p: Pass): Unit = {
    val spark = p.spark
    val emb = vectors(spark)
    p.op("ivfpq.build") {
      p.span("store.ivfpq.build") {
        IvfPqStore.build(emb.filter(col("vec_id") % 10 =!= 9), "embedding", "vec_id",
          store(p).toString, k = 8, iterations = 2, m = 8, ksub = 16)
      }
    }
    p.op("ivfpq.append") {
      p.span("store.ivfpq.append") {
        IvfPqStore.append(emb.filter(col("vec_id") % 10 === 9), store(p).toString, batchId = 1L)
      }
    }
    var recall = 0.0
    queries.foreach { case (q, exact) =>
      p.op("ivfpq.serve") {
        val got = p.span("store.ivfpq.serve") {
          IvfPqStore.topK(spark, store(p).toString, q, k = 10, nprobe = 4, shortlist = 50)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        }
        val ids = got.map(_._1)
        val wrong = got.filter { case (id, d) =>
          exact.get(id).forall(e => math.abs(d - e) > 1e-4 * math.max(1.0, e))
        }
        if (ids.distinct.size != 10 || wrong.nonEmpty || got.map(_._2) != got.map(_._2).sorted)
          p.fail("ivfpq.serve", s"answer breaks the top-10 contract: $got")
        val top10 = exact.toSeq.sortBy(_.swap).take(10).map(_._1).toSet
        recall += ids.toSet.intersect(top10).size / 10.0
      }
    }
    p.values("store.ivfpq.recall_at_10") = recall / queries.size
  }

  override def check(p: Pass): Unit =
    p.values("store.ivfpq.bytes") = Pass.treeSize(store(p))._1.toDouble
}

/** The job-bound workload: an iterative catalog operator, then the store
  * lifecycle, one after the other in each pass. */
final class IterativeOps(tables: Path, expected: JsonNode) extends Workload {
  private val parts = Seq(new CatalogQueries(Workloads.Iterative, tables),
    new IvfPqLifecycle(tables, expected))
  override def reset(p: Pass): Unit = parts.foreach(_.reset(p))
  def pass(p: Pass): Unit = parts.foreach(_.pass(p))
  override def check(p: Pass): Unit = parts.foreach(_.check(p))
  override def outputs(p: Pass): Seq[Path] = parts.flatMap(_.outputs(p))
}

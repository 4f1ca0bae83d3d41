package perfbench

import graft.eval.Evaluation
import graft.gen.ReferenceCorpus
import graft.model.Labels
import graft.operators.Snapshots
import graft.runner.Runner
import graft.sources.InstanceSource
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What one timed call returned, in a canonical form: the lines compared
  * across passes and against the committed digest, and their mean F1. */
final case class Outcome(lines: Seq[String], f1: Double)

/** A generated input on disk in the reference generator's layout: one
  * fundamental-measure CSV per instance plus `injection_info.csv`, all in
  * `<root>/gen`. */
final class Corpus(val root: String, ids: Seq[String]) {
  val refs: Seq[InstanceSource.InstanceRef] = ids.map(InstanceSource.InstanceRef("gen", "", _))
  val labels: Seq[String] = refs.map(r => InstanceSource.injectionLabel(r.dir(root), r.file))

  /** One instance, read the way `Runner` reads it. */
  def read(spark: SparkSession, i: Int): DataFrame =
    Runner.loadInstance(spark, root, refs(i), Some(false))._1

  /** Every instance, keyed and materialized the way `Runner.runBatch`
    * loads a corpus: union plus an eager `localCheckpoint`. */
  def load(spark: SparkSession): DataFrame =
    refs.indices.map(i => read(spark, i).withColumn("instance_id", lit(refs(i).file)))
      .reduce(_ unionByName _).localCheckpoint(true)
}

/** A workload: how many instances its corpus holds, which algorithms it
  * calls, and how one is called. */
final case class Workload(name: String, instances: Int, algorithms: Seq[String],
    call: (SparkSession, Corpus, String, Tracer) => Outcome)

object Workloads {
  val Algorithms: Seq[String] = Seq("riskloc", "squeeze", "autoroot", "adtributor",
    "rev_rec_adtributor", "hotspot", "robustspot")

  /** The paper's fundamental-measure lattice: 6 x 5 x 4 x 3 = 360 leaves. */
  val Dims: Seq[(String, Int)] = Seq("a" -> 6, "b" -> 5, "c" -> 4, "d" -> 3)

  /** The reference generator's seed for the one draw every instance is made
    * from (see [[shape]]). */
  val ShapeSeed = 13L

  /** The first file `ReferenceCorpus` writes for [[ShapeSeed]] over
    * [[Dims]], as CSV lines (header first) and its label. */
  def shape(dir: Path): (Seq[String], String) = {
    val name = ReferenceCorpus.writeCorpus(ReferenceCorpus.Config(Dims, 1, ShapeSeed), dir.toString).head
    val rows = Files.readAllLines(dir.resolve(s"$name.csv"), UTF_8).asScala.toSeq
    val label = Files.readAllLines(dir.resolve("injection_info.csv"), UTF_8).asScala
      .map(_.split(",", -1)).collectFirst { case Array(`name`, set, _*) => set }.get
    (rows, label)
  }

  /** The shape with each attribute's element names permuted: the same
    * measures, anomaly count, layers and sizes, on other elements. An
    * element is the attribute name plus a 1-based index (`b4`). */
  def relabel(rows: Seq[String], label: String, rng: java.util.Random): (Seq[String], String) = {
    val perm = Dims.map { case (attr, card) =>
      val p = (1 to card).toArray
      for (i <- card - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1)
        val t = p(i); p(i) = p(j); p(j) = t
      }
      attr -> p
    }.toMap
    def element(attr: String, e: String) = s"$attr${perm(attr)(e.drop(attr.length).toInt - 1)}"
    val body = rows.tail.map { line =>
      val f = line.split(",", -1)
      (Dims.indices.map(d => element(Dims(d)._1, f(d))) ++ f.drop(Dims.size)).mkString(",")
    }
    val set = label.split(";").map(_.split("&").map { kv =>
      val Array(attr, e) = kv.split("=", 2)
      s"$attr=${element(attr, e)}"
    }.sorted.mkString("&")).mkString(";")
    (rows.head +: body, set)
  }

  /** Writes the workload's corpus for `seed` under `dir`: `n` relabelled
    * copies of the shape, each with its own permutations drawn from the
    * seed. */
  def generate(dir: String, n: Int, seed: Long): Corpus = {
    val (rows, label) = shape(Files.createDirectories(Paths.get(dir, "shape")))
    val out = Files.createDirectories(Paths.get(dir, "gen"))
    val rng = new java.util.Random(seed)
    val ids = (0 until n).map(i => s"${1000000 + i}")
    val sets = ids.map { id =>
      val (csv, set) = relabel(rows, label, rng)
      Files.write(out.resolve(s"$id.csv"), csv.mkString("", "\n", "\n").getBytes(UTF_8))
      s"$id,$set"
    }
    Files.write(out.resolve("injection_info.csv"),
      ("timestamp,set" +: sets).mkString("", "\n", "\n").getBytes(UTF_8))
    new Corpus(dir, ids)
  }

  /** One alert: the shape of `Runner.runInstance`. Read the instance, run
    * `Runner.runAlgorithm`, canonicalize and score the predictions. */
  private def runInstance(spark: SparkSession, corpus: Corpus, algorithm: String,
      tracer: Tracer): Outcome = {
    val df = tracer.span("sources.read")(corpus.read(spark, 0))
    val preds = Labels.canonicalPredictions(tracer.span(s"algorithms.$algorithm")(
      Runner.runAlgorithm(df, Snapshots.attributes(df), algorithm, derived = false, Map.empty)))
    Outcome(preds, tracer.span("eval.score")(Evaluation.score(preds, corpus.labels(0)).f1))
  }

  /** One corpus evaluation through `Runner.runBatch`: per-file loads,
    * union, `localCheckpoint`, the Batch* DAG and scoring. */
  private def runCorpus(spark: SparkSession, corpus: Corpus, algorithm: String,
      tracer: Tracer): Outcome = {
    val results = tracer.span(s"algorithms.$algorithm")(
      Runner.runBatch(spark, corpus.root, corpus.refs, algorithm, Some(false)))
    Outcome(results.sortBy(_.file).map(r => s"${r.file} tp=${r.tp} fp=${r.fp} fn=${r.fn}"),
      results.map(_.f1).sum / results.size)
  }

  val CorpusInstances = 4

  /** rev_rec_adtributor has no Batch* variant (`Runner --mode batch` runs
    * it sequentially), so the corpus workload leaves it out. */
  val all: Seq[Workload] = Seq(
    Workload("instance-small", 1, Algorithms, runInstance),
    Workload("corpus-small", CorpusInstances, Algorithms.filter(_ != "rev_rec_adtributor"),
      runCorpus))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

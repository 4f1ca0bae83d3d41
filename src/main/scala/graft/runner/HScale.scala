package graft.runner

import graft.algorithms._
import graft.gen.HCorpus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** H-shape scale rehearsal (VERDICT r4 #4): run the whole-corpus Batch*
  * DAGs over instances at the reference H dataset's PER-INSTANCE size
  * (README.md:119-122 — dims 10x5x250x20x8x12 = 24M leaf rows) and
  * verify the three claims the 100 TB story rests on:
  *
  *  (i)  batch results equal sequential per-instance results on a
  *       sampled subset (the small-corpus Batch*Specs, re-asserted at
  *       24M rows/instance);
  *  (ii) the Spark-job count is a function of layers/rounds/iterations,
  *       NOT of corpus rows or instance count — the number that holds
  *       when 100 files become 100 TB;
  *  (iii) driver heap high-water stays flat (no collect scales with leaf
  *       rows — only per-candidate summaries ever reach the driver).
  *
  * Usage: HScale [numInstances] [dimsSpec like a10,b5,c250,d20,e8,f12]
  *               [outMd] [seqSamples] [algosCsv] [corpusDir]
  * Writes outMd (default H_SCALE.md). `corpusDir` (optional) reuses a
  * previously generated parquet corpus instead of regenerating — the
  * full-size rehearsal runs each algorithm in its OWN JVM (fresh block
  * manager and cache per phase) against one shared corpus, so a single
  * phase's memory behavior can never poison another's. A smaller-dims
  * run of the same harness is pinned as a spec (HScaleSpec) so the
  * job-count contract stays enforced on every test run.
  */
object HScale {

  /** All seven whole-corpus batch DAGs. */
  val allAlgos: Seq[String] =
    Seq("riskloc", "autoroot", "robustspot", "squeeze", "adtributor",
      "revrec", "hotspot")

  final case class Phase(algo: String, wallSec: Double, checkSec: Double,
      jobs: Int, heapHighWaterMb: Long, instances: Int, causes: Int)

  /** Heap high-water poller: daemon thread sampling used heap. */
  final class HeapProbe {
    private val max = new AtomicLong(0)
    @volatile private var running = true
    private val t = new Thread(() => {
      val rt = Runtime.getRuntime
      while (running) {
        val used = rt.totalMemory() - rt.freeMemory()
        max.getAndUpdate(m => math.max(m, used))
        Thread.sleep(100)
      }
    })
    t.setDaemon(true); t.start()
    def reset(): Unit = max.set(0)
    def highWaterMb: Long = max.get() / (1024 * 1024)
    def stop(): Unit = running = false
  }

  def runRehearsal(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, attrs: Seq[String], seqSamples: Int,
      algos: Seq[String] = allAlgos): (Seq[Phase], Seq[String]) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val probe = new HeapProbe
    try {
      val notes = collection.mutable.ArrayBuffer.empty[String]
      val instances = corpus.select(col("instance_id")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val sampled = instances.take(seqSamples)
      def seqFrame(id: String) =
        corpus.filter(col("instance_id") === id).drop("instance_id")

      // the listener bus is async: settle (counter unchanged across a
      // poll interval) before trusting a snapshot of the job counter
      def settle(): Int = {
        var prev = -1
        var cur = jobs.get()
        while (cur != prev) { Thread.sleep(150); prev = cur; cur = jobs.get() }
        cur
      }
      // job count + wall of `body` alone (excludes the sequential checks)
      def timed[T](body: => T): (T, Int, Double) = {
        settle(); jobs.set(0)
        val t0 = System.nanoTime()
        val r = body
        val w = (System.nanoTime() - t0) / 1e9
        (r, settle(), w)
      }

      val phases = algos.map { algo =>
        System.gc(); probe.reset()
        val tC = System.nanoTime()
        val (nCauses, jB, wall, equal) = algo match {
          case "riskloc" =>
            val (batch, j, w) = timed(BatchRiskLoc.run(corpus, "instance_id", attrs))
            val eq = sampled.forall { id =>
              val s = RiskLoc.run(seqFrame(id), attrs)
              val ok = batch.getOrElse(id, Seq.empty).map(_.labels) == s.map(_.labels)
              if (!ok) notes += s"riskloc MISMATCH on $id: batch=${batch.get(id)} seq=$s"
              ok
            }
            (batch.values.map(_.size).sum, j, w, eq)
          case "autoroot" =>
            val (batch, j, w) = timed(BatchAutoRoot.run(corpus, "instance_id", attrs))
            val eq = sampled.forall { id =>
              val s = AutoRoot.run(seqFrame(id), attrs)
              val ok = batch.getOrElse(id, Seq.empty).map(_.labels) == s.map(_.labels)
              if (!ok) notes += s"autoroot MISMATCH on $id"
              ok
            }
            (batch.values.map(_.size).sum, j, w, eq)
          case "robustspot" =>
            val opt = RobustSpot.Options(k = 3, derived = false)
            val (batch, j, w) = timed(BatchRobustSpot.run(corpus, "instance_id", attrs, opt))
            val eq = sampled.forall { id =>
              val s = RobustSpot.run(seqFrame(id), attrs, opt)
              val ok = batch.getOrElse(id, Seq.empty) == s
              if (!ok) notes += s"robustspot MISMATCH on $id"
              ok
            }
            (batch.values.map(_.size).sum, j, w, eq)
          case "squeeze" =>
            val (batch, j, w) = timed(BatchSqueeze.run(corpus, "instance_id", attrs))
            val eq = sampled.forall { id =>
              val s = Squeeze.run(seqFrame(id), attrs)
              val ok = batch.getOrElse(id, Seq.empty) == s
              if (!ok) notes += s"squeeze MISMATCH on $id"
              ok
            }
            (batch.values.map(_.size).sum, j, w, eq)
          case "adtributor" =>
            val (rows, j, w) = timed(
              BatchAdtributor.run(corpus, "instance_id", attrs).collect())
            val byId = rows.groupBy(_.getString(0)).map { case (id, rs) =>
              id -> rs.sortBy(_.getInt(rs.head.fieldIndex("rank")))
                .map(r => (r.getString(1), r.getSeq[String](2).toSeq)).toSeq
            }
            val eq = sampled.forall { id =>
              val s = Adtributor.run(seqFrame(id), attrs)
                .map(c => (c.dimension, c.elements))
              val ok = byId.getOrElse(id, Seq.empty) == s
              if (!ok) notes += s"adtributor MISMATCH on $id"
              ok
            }
            (rows.length, j, w, eq)
          case "revrec" =>
            val (batch, j, w) = timed(
              BatchRevRecAdtributor.run(corpus, "instance_id", attrs))
            val eq = sampled.forall { id =>
              val s = RevRecAdtributor.run(seqFrame(id), attrs)
              val ok = RevRecAdtributor.predictions(batch.getOrElse(id, Seq.empty)).sorted ==
                RevRecAdtributor.predictions(s).sorted
              if (!ok) notes += s"revrec MISMATCH on $id"
              ok
            }
            (batch.values.map(_.size).sum, j, w, eq)
          case "hotspot" =>
            val (batch, j, w) = timed(BatchHotSpot.run(corpus, "instance_id", attrs))
            val eq = sampled.forall { id =>
              val s = HotSpot.run(seqFrame(id), attrs)
              val ok = batch.get(id).contains(s)
              if (!ok) notes += s"hotspot MISMATCH on $id"
              ok
            }
            (batch.size, j, w, eq)
          case other => throw new IllegalArgumentException(other)
        }
        if (!equal) notes += s"$algo: batch != sequential on sampled instances"
        val checkSec = (System.nanoTime() - tC) / 1e9 - wall
        Phase(algo, wall, checkSec, jB, probe.highWaterMb, instances.size, nCauses)
      }
      (phases, notes.toSeq)
    } finally {
      probe.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  def main(args: Array[String]): Unit = {
    val numInstances = args.lift(0).map(_.toInt).getOrElse(4)
    val dims = args.lift(1).map(_.split(',').toSeq.map { s =>
      (s.take(1), s.drop(1).toInt)
    }).getOrElse(HCorpus.HDims)
    val outMd = args.lift(2).getOrElse("H_SCALE.md")
    val seqSamples = args.lift(3).map(_.toInt).getOrElse(2)
    val algos = args.lift(4).map(_.split(',').toSeq).getOrElse(allAlgos)
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus, "64", "graft-h-scale")
    spark.sparkContext.setLogLevel("WARN")

    val perInstance = dims.map(_._2.toLong).product
    println(s"H rehearsal: $numInstances instances x $perInstance rows " +
      s"(dims ${dims.map { case (n, c) => s"$n:$c" }.mkString(",")})")

    // materialize through parquet: the realistic input path (column-pruned
    // vectorized scan), and each algorithm pass re-reads the file instead
    // of re-running the generator expressions
    val preBuilt = args.lift(5).filter(p => java.nio.file.Files.exists(
      java.nio.file.Paths.get(p, "_SUCCESS")))
    val work = preBuilt.getOrElse {
      val dir = java.nio.file.Files.createTempDirectory("graft_h").toString + "/corpus"
      val t0 = System.nanoTime()
      HCorpus.corpus(spark, numInstances, dims).write.mode("overwrite").parquet(dir)
      println(f"generated+wrote corpus in ${(System.nanoTime() - t0) / 1e9}%.1f s -> $dir")
      dir
    }
    val corpus = spark.read.parquet(work)
    val total = corpus.count()
    println(s"corpus: $total rows at $work")

    val (phases, notes) = runRehearsal(spark, corpus, dims.map(_._1), seqSamples, algos)

    val md = new StringBuilder
    md ++= "# H-shape scale rehearsal\n\n"
    md ++= s"Corpus: $numInstances instances x $perInstance leaf rows " +
      s"(dims ${dims.map { case (n, c) => s"${n}:${c}" }.mkString(", ")}) = $total rows, " +
      s"parquet, ${graft.core.Sessions.cpus} cores, 64 shuffle partitions.\n"
    md ++= "Per-instance size matches the reference H dataset " +
      "(README.md:119-122: dims 10 5 250 20 8 12 = 24M rows/file); " +
      "the reference runs it 100 files x 1 thread in pandas.\n\n"
    md ++= "| algorithm | batch wall (s) | seq-check wall (s) | Spark jobs (batch) | driver heap high-water (MB) | causes found | batch == sequential (sampled) |\n"
    md ++= "|---|---|---|---|---|---|---|\n"
    for (p <- phases)
      md ++= f"| ${p.algo} | ${p.wallSec}%.1f | ${p.checkSec}%.1f | ${p.jobs} | ${p.heapHighWaterMb} | ${p.causes} | ${if (notes.exists(_.startsWith(p.algo))) "NO" else s"yes ($seqSamples sampled)"} |\n"
    md ++= "\nJob counts are per whole-corpus batch DAG (driver-coordinated " +
      "passes over instance-keyed aggregations): they scale with " +
      "layers/rounds/iterations, never with row or instance count. Driver " +
      "heap holds per-candidate summaries only.\n"
    if (notes.nonEmpty) md ++= "\n## Notes\n\n" + notes.map("- " + _).mkString("\n") + "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(outMd), md.toString.getBytes("UTF-8"))
    println(s"wrote $outMd")
    phases.foreach(p => println(f"${p.algo}%-12s ${p.wallSec}%8.1fs (+${p.checkSec}%.1fs checks) " +
      f"jobs=${p.jobs}%4d heapHW=${p.heapHighWaterMb}MB causes=${p.causes}"))
    // clean the work dir (only when this run generated it)
    if (preBuilt.isEmpty) {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(work)).deleteRecursively()
    }
    spark.stop()
    if (notes.nonEmpty) sys.exit(1)
  }
}

package graft.algorithms

import graft.model.Labels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reverse + recursive Adtributor (reference
  * algorithms/rev_rec_adtributor.py): per dimension, take ALL elements
  * passing the EP threshold (if a strict subset), then recurse into each
  * element's sub-snapshot over the remaining dimensions, multiplying
  * explanatory powers. Driver-controlled recursion over distributed
  * sub-frames — each level is one grouping-sets aggregation.
  */
object RevRecAdtributor {

  final case class Options(teep: Double = 0.2, k: Int = 3, derived: Boolean = false,
      /** Per-recursion-node score tracing for parity debugging. */
      trace: String => Unit = _ => ())

  final case class Candidate(
      elements: Seq[Seq[(String, String)]], // each element: (dim, value) pairs
      cuboid: Seq[String],
      explanatoryPower: Double,
      surprise: Double)

  /** rev_adtributor: per-dimension full candidate sets (reference :16-35). */
  private def revAdtributor(df: DataFrame, dims: Seq[String], opt: Options): Seq[Candidate] = {
    val scored = Adtributor.scoredElements(df, dims, opt.derived)
    // NaN ep fails `ep > teep` in pandas (Spark would order NaN above all)
    val passes = !isnan(col("ep")) && col("ep") > opt.teep
    val perDim = scored
      .groupBy("dimension")
      .agg(
        sort_array(collect_list(when(passes, col("element")))).as("cands"),
        sum(when(passes, col("ep"))).as("ep_sum"),
        sum(when(passes, col("surprise"))).as("surprise_sum"),
        count(lit(1)).as("n_total"),
        count(when(passes, lit(1))).as("n_cand"))
      .collect()
    val byDim = perDim.flatMap { r =>
      def nullable(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      dimCandidate(r.getString(0), r.getSeq[String](1).toSeq, nullable(2), nullable(3),
        r.getLong(4), r.getLong(5), opt)
    }.toMap
    Adtributor.topKBySurprise(dims, byDim, opt.k)(_.surprise)
  }

  /** One dimension's candidate set: its elements passing the EP threshold
    * (`cands`, sorted), their EP and surprise sums (NULL with none), when
    * they are a strict subset of the `nTotal` elements. */
  private[algorithms] def dimCandidate(dim: String, cands: Seq[String],
      epSum: Option[Double], surpriseSum: Option[Double], nTotal: Long, nCand: Long,
      opt: Options): Option[(String, Candidate)] = {
    def hex(x: Option[Double]) = x.fold("null")(java.lang.Double.toHexString)
    opt.trace(s"DIM $dim nTotal=$nTotal nCand=$nCand ep=${hex(epSum)} " +
      s"surprise=${hex(surpriseSum)} cands=${cands.mkString(",")}")
    if (nCand > 0 && nCand < nTotal)
      Some(dim -> Candidate(cands.map(e => Seq(dim -> e)), Seq(dim), epSum.get, surpriseSum.get))
    else None
  }

  /** `list(set(dimensions) - set(candidate_set['dimension']))` (reference
    * :52). The subtrahend is a STRING, so `set(...)` is the set of its
    * CHARACTERS: only a single-character dimension name is actually
    * removed; with multi-character names (the RS corpus) every dimension
    * is passed down and the current one drops out naturally because its
    * sub-frame holds a single distinct value. The result order is CPython
    * set-difference table order (PYTHONHASHSEED=0 kernel), which decides
    * stable-sort ties in the per-level top-k, the first-seen dedup, and
    * the surprise scaling (merged_divide stays at the full count). */
  private[algorithms] def remainingDims(dims: Seq[String], dim: String): Seq[String] = {
    import graft.kernels.PyHash
    PyHash.PySet.difference(
      PyHash.PySet.of(dims, PyHash.strHash),
      PyHash.PySet.of(dim.map(_.toString), PyHash.strHash),
      PyHash.strHash).toList
  }

  /** Full recursive drill-down (reference :38-74).
    *
    * Round 13: the per-(candidate, element) sub-recursions are
    * independent read-only Spark-action chains over disjoint (or
    * reference-identically re-read) sub-frames, so they run on
    * concurrent driver threads (graft.core.Concurrency, the
    * RobustSpot-chains pattern) instead of serializing one driver
    * round-trip per recursion node. Each subtree traces into a private
    * buffer flushed in the sequential depth-first order, so the trace
    * stream — and every collected number — is identical to the
    * sequential loop's. */
  def run(df: DataFrame, dims: Seq[String], opt: Options = Options()): Seq[Candidate] =
    drillDown[DataFrame](df, dims, opt, depth = 0, concurrentDepth = 3,
      revAdtributor, (d, dim, value) => d.filter(col(dim) === value))

  /** The recursion over any frame type: `node` scores one node's
    * dimensions, `sub` keeps one element's leaves.
    *
    * ADVICE r13: every recursion node used to open its own 4-thread pool,
    * so total in-flight driver threads (and Spark jobs) grew ~4^depth with
    * no global bound. Concurrency is now confined to the recursion levels
    * above `concurrentDepth` (3 on Spark: <= 4 + 16 + 64 tasks in flight —
    * in practice far fewer, and the levels where nearly all overlap-able
    * jobs live; at the gate's 3 attributes depth-3 nodes never recurse, so
    * this keeps the round-13 measured overlap shape intact); deeper nodes
    * recurse sequentially inside their parent's thread. Results and the
    * flushed trace stream are unchanged: the sequential order below the
    * cap is exactly the buffered depth-first order the concurrent version
    * flushed. */
  private[algorithms] def drillDown[F](df: F, dims: Seq[String], opt: Options,
      depth: Int, concurrentDepth: Int,
      node: (F, Seq[String], Options) => Seq[Candidate],
      sub: (F, String, String) => F): Seq[Candidate] = {
    def recurse(f: F, ds: Seq[String], o: Options) =
      drillDown(f, ds, o, depth + 1, concurrentDepth, node, sub)
    opt.trace(s"NODE dims=${dims.mkString(",")}")
    val explanatory = node(df, dims, opt)

    // one task per (candidate, element) that needs a deeper recursion
    val subs: Seq[(Int, Seq[(String, String)], String, Seq[String])] =
      explanatory.zipWithIndex.flatMap { case (cand, ci) =>
        val dim = cand.cuboid.head
        val remaining = remainingDims(dims, dim)
        if (remaining.isEmpty) Seq.empty
        else cand.elements.map(elem => (ci, elem, dim, remaining))
      }
    val subResults: Map[(Int, Seq[(String, String)]), Seq[Candidate]] =
      if (subs.isEmpty) Map.empty
      else if (depth >= concurrentDepth) subs.map { case (ci, elem, dim, remaining) =>
        (ci, elem) -> recurse(sub(df, dim, elem.head._2), remaining, opt)
      }.toMap
      else graft.core.Concurrency.awaitAll(subs.map {
        case (ci, elem, dim, remaining) => () => {
          val buf = collection.mutable.ArrayBuffer.empty[String]
          val copt = opt.copy(trace = buf.append(_))
          ((ci, elem), recurse(sub(df, dim, elem.head._2), remaining, copt), buf)
        }
      }).map { case (k, r, buf) => buf.foreach(opt.trace); k -> r }.toMap

    val expanded = explanatory.zipWithIndex.flatMap { case (cand, ci) =>
      val dim = cand.cuboid.head
      val remaining = remainingDims(dims, dim)
      if (remaining.isEmpty) Seq(cand)
      else {
        // Per-element deep expansions; abandon the deep expansion if ANY
        // element yields no deeper explanatory set (reference :56-63).
        val perElement = cand.elements.map { elem =>
          subResults((ci, elem)).map { es =>
            es.copy(
              elements = es.elements.map(e => (e ++ elem).sortBy(_._1)),
              cuboid = (es.cuboid :+ dim).sorted,
              explanatoryPower = es.explanatoryPower * cand.explanatoryPower)
          }
        }
        if (perElement.exists(_.isEmpty)) Seq(cand)
        else perElement.flatten
      }
    }

    // Dedup by flattened element key, first occurrence wins (reference
    // :6-12). The reference key flattens the SORTED value lists (elements
    // hold `sorted(e + candidate)` — values ordered lexicographically,
    // not by dimension).
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Candidate]
    expanded.foreach { c =>
      val key = c.elements.flatMap(_.map(_._2).sorted).mkString("")
      if (!seen.contains(key)) seen(key) = c
    }
    seen.values.toSeq
  }

  /** Canonical prediction strings, one per element. The reference's
    * postprocessing (evaluation.py:52-55) zips the SORTED cuboid with the
    * element's SORTED VALUE list positionally — values are not re-aligned
    * to their own dimensions, so a value of one attribute can be labeled
    * with another (observable in the RS golden). Replicated as-is. */
  def predictions(candidates: Seq[Candidate]): Seq[String] =
    Labels.canonicalPredictions(
      candidates.flatMap { c =>
        val dimsSorted = c.cuboid.sorted
        c.elements.map { e =>
          dimsSorted.zip(e.map(_._2).sorted)
            .map { case (d, v) => s"$d=$v" }.mkString("&")
        }
      })
}

package graft.algorithms

import graft.algorithms.RevRecAdtributor.{Candidate, Options}
import graft.functions.Scores
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Reverse + recursive Adtributor over a UNION of instance snapshots,
  * batched per recursion LEVEL (the BatchRiskLoc pattern applied to
  * [[RevRecAdtributor]]'s drill-down tree).
  *
  * The sequential algorithm recurses per (candidate dimension, element)
  * into a filtered sub-frame and re-runs a grouping-sets aggregation for
  * each recursion node — at corpus width that is O(#nodes) Spark jobs.
  * Here every recursion node at a level becomes one row group of a
  * single nid-keyed frame: a broadcast frontier table (nid, instance,
  * path filters) fans each leaf row out to the nodes whose filter path
  * it satisfies (`forall` over the path map — sibling nodes of one
  * parent are disjoint; only nodes from DIFFERENT parent dimensions
  * overlap, exactly the rows the sequential recursion also re-reads),
  * and the level then costs a fixed number of corpus-wide passes: one
  * grouping-sets element aggregation, one per-node totals pass (plus the
  * derived ep-normalization pass), one per-dimension candidate
  * reduction. The driver holds only per-node candidate summaries and the
  * recursion tree; results assemble bottom-up with the sequential path's
  * exact dedup/abandon semantics (including the reference's CPython
  * set-order `remainingDims` and the char-set dimension-removal quirk,
  * RevRecAdtributor.scala:50-58).
  *
  * Levels are bounded by the attribute count (each level pins one more
  * path filter; a dimension with a single distinct value in a sub-frame
  * can never be a strict-subset candidate, so recursion starves), and
  * the per-level fan-out is the recursion tree's own width — the same
  * work the reference does, minus the per-node job scheduling.
  *
  * DISPATCH (measured, round 8): this whole-corpus DAG wins when
  * instances are small and many — scheduling-dominated corpora like RS
  * (4-9x over sequential, RS_SWEEP_BATCH.md) — and LOSES to the
  * concurrent per-instance sequential path once rows/instance outgrow
  * their Runner.BatchCrossoverByAlgo threshold, because every corpus-wide
  * pass carries the big instances' rows (H_SCALE.md: sequential wins 1.7-6x at 24M
  * rows/instance). Runner's default `--mode auto` picks per corpus from
  * the CROSSOVER.md-measured threshold; batch is NOT the universal scale
  * mode, it is the many-small-instances mode.
  */
object BatchRevRecAdtributor {

  private final case class Node(nid: Long, instance: String,
      path: Seq[(String, String)], dims: Seq[String])

  private final case class NodeCand(dim: String, elements: Seq[String],
      ep: Double, surprise: Double)

  def run(df0: DataFrame, instanceCol: String, attributes: Seq[String],
      opt: Options = Options()): Map[String, Seq[Candidate]] = {
    val spark = df0.sparkSession
    import spark.implicits._
    val measures =
      if (opt.derived) Seq("real_a", "predict_a", "real_b", "predict_b")
      else Seq("real", "predict")
    val base = df0.withColumn(instanceCol, col(instanceCol).cast("string"))
      .select((col(instanceCol) +: (attributes ++ measures).map(col)): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    var nextNid = 0L
    def newNid(): Long = { val n = nextNid; nextNid += 1; n }
    val roots = collection.mutable.ArrayBuffer.empty[Node]
    val nodeOf = collection.mutable.Map.empty[Long, Node]
    val topks = collection.mutable.Map.empty[Long, Seq[NodeCand]]
    val children = collection.mutable.Map.empty[(Long, String, String), Long]

    val attrMap = map(attributes.flatMap(a => Seq(lit(a), col(a))): _*)

    // Level 1 (round 14, guide §2.4/§3): the frontier is one root per
    // instance with an EMPTY path and the full dimension list, so the
    // fan-out join is an identity join on the instance key and the meta
    // join attaches constants — both (plus the up-front distinct-instance
    // collect) are replaced by keying the aggregation on the instance
    // column directly. Roots are derived from the level-1 rows: every
    // instance with rows produces at least one per-dimension group, the
    // same set the distinct used to collect. Deeper levels keep the
    // broadcast-frontier fan-out unchanged.
    var frontier: Seq[Node] = Seq.empty
    var level = 1
    var more = true
    while (more) {
      // fan out: a row joins every frontier node whose path it satisfies
      // (level 1: every node's path is empty — key rows by instance)
      val rows =
        if (level == 1) base.withColumn("__nid", col(instanceCol))
        else {
          val frontierDf = broadcast(frontier
            .map(n => (n.nid, n.instance, n.path.toMap, n.dims, n.dims.size))
            .toDF("__nid", "__inst", "__pathm", "__dims", "__nd"))
          base.join(frontierDf,
            col(instanceCol) === col("__inst") &&
              graft.functions.MapMatches.matchesAll(col("__pathm"), attrMap))
        }

      // merged per (nid, dimension, element): grouping sets with nid in
      // every set — ONE aggregation for all nodes and all dimensions
      val sets = attributes.map(a => Seq(col("__nid"), col(a)))
      val aggs = measures.map(m => sum(m).as(m))
      val grouped = rows
        .groupingSets(sets, (col("__nid") +: attributes.map(col)): _*)
        .agg(aggs.head, aggs.tail: _*)
      val dimension = coalesce(attributes.map(a => when(col(a).isNotNull, lit(a))): _*)
      val element = coalesce(attributes.map(col): _*)
      val merged0 = grouped.select(
        (Seq(col("__nid"), dimension.as("dimension"), element.as("element")) ++
          measures.map(col)): _*)
      // restrict to each node's OWN dimension list (nodes deeper in the
      // generated-corpus tree have shrunk dims), attach totals + |dims|
      // (level 1: every node's dims = the full attribute list — the
      // restriction is a no-op and |dims| is a constant, no join needed)
      val mergedF =
        if (level == 1) merged0.withColumn("__mn_dims", lit(attributes.size.toDouble))
        else {
          val meta = broadcast(frontier.map(n => (n.nid, n.dims, n.dims.size.toDouble))
            .toDF("__mn", "__mdims", "__mn_dims"))
          merged0
            .join(meta, col("__nid") === col("__mn"))
            .filter(array_contains(col("__mdims"), col("dimension")))
        }
      // per-node totals over the MERGED element rows (each dimension's
      // elements sum to the node total, so this is |dims| x the node
      // total — exactly the sequential scoredElements' 1-row aggregate,
      // whose surprise terms then divide by merged_divide = |dims|)
      val totals = mergedF.groupBy(col("__nid").as("__tn"))
        .agg(sum(measures.head).as(s"__t_${measures.head}"),
          measures.tail.map(m => sum(m).as(s"__t_$m")): _*)
      val merged = mergedF.join(broadcast(totals), col("__nid") === col("__tn"))
      def t(m: String) = col(s"__t_$m")
      val n = col("__mn_dims")

      val withEp =
        if (opt.derived) {
          val raw = Scores.explanatoryPowerDerived(
            col("real_a"), col("predict_a"), col("real_b"), col("predict_b"),
            t("predict_a"), t("predict_b"))
          val withRaw = merged.withColumn("ep", raw)
          // per-node NaN-skipping ep normalization (Adtributor
          // .scoredElements' __t_ep, nid-keyed)
          val epTotal = withRaw.groupBy(col("__nid").as("__en"))
            .agg(sum(when(!isnan(col("ep")), col("ep"))).as("__t_ep"))
          withRaw.join(broadcast(epTotal), col("__nid") === col("__en"))
            .withColumn("ep", col("ep") / col("__t_ep"))
        } else
          merged.withColumn("ep",
            Scores.explanatoryPower(col("real"), col("predict"), t("real"), t("predict")))
      val surpriseCol =
        if (opt.derived)
          Scores.surprise(col("real_a"), col("predict_a"), t("real_a") / n, t("predict_a") / n) +
            Scores.surprise(col("real_b"), col("predict_b"), t("real_b") / n, t("predict_b") / n)
        else
          Scores.surprise(col("real"), col("predict"), t("real") / n, t("predict") / n)
      val scored = withEp.withColumn("surprise", surpriseCol)

      // per-(node, dimension) candidate reduction — RevRecAdtributor
      // .revAdtributor's groupBy("dimension"), nid-keyed
      val passes = !isnan(col("ep")) && col("ep") > opt.teep
      val perDim = scored.groupBy(col("__nid"), col("dimension"))
        .agg(
          sort_array(collect_list(when(passes, col("element")))).as("cands"),
          sum(when(passes, col("ep"))).as("ep_sum"),
          sum(when(passes, col("surprise"))).as("surprise_sum"),
          count(lit(1)).as("n_total"),
          count(when(passes, lit(1))).as("n_cand"))
        .collect()

      if (level == 1) {
        // roots derive from the level-1 aggregation itself: its collected
        // keys ARE the distinct instances (sorted, like the old collect)
        val instances = perDim.map(_.getString(0)).distinct.sorted
        roots ++= instances.map(i => Node(newNid(), i, Seq.empty, attributes))
        roots.foreach(n => nodeOf(n.nid) = n)
        frontier = roots.toSeq
      }
      val byNode: Map[String, Array[Row]] =
        if (level == 1) perDim.groupBy(_.getString(0))
        else perDim.groupBy(_.getLong(0).toString)
      def keyOf(nd: Node): String = if (level == 1) nd.instance else nd.nid.toString
      val next = collection.mutable.ArrayBuffer.empty[Node]
      for (nd <- frontier) {
        val byDim = byNode.getOrElse(keyOf(nd), Array.empty).flatMap { r =>
          val dim = r.getString(1)
          val (nTotal, nCand) = (r.getLong(5), r.getLong(6))
          opt.trace(s"BNODE ${nd.path.map { case (d, v) => s"$d=$v" }.mkString("/")} " +
            s"DIM $dim nTotal=$nTotal nCand=$nCand " +
            s"ep=${if (r.isNullAt(3)) "null" else java.lang.Double.toHexString(r.getDouble(3))} " +
            s"surprise=${if (r.isNullAt(4)) "null" else java.lang.Double.toHexString(r.getDouble(4))} " +
            s"cands=${r.getSeq[String](2).mkString(",")}")
          if (nCand > 0 && nCand < nTotal)
            Some(dim -> NodeCand(dim, r.getSeq[String](2), r.getDouble(3), r.getDouble(4)))
          else None
        }.toMap
        val topk = nd.dims.flatMap(byDim.get).sortBy(c => -c.surprise).take(opt.k)
        topks(nd.nid) = topk
        for (c <- topk) {
          val remaining = RevRecAdtributor.remainingDims(nd.dims, c.dim)
          if (remaining.nonEmpty) for (v <- c.elements) {
            val child = Node(newNid(), nd.instance, nd.path :+ (c.dim -> v), remaining)
            nodeOf(child.nid) = child
            children((nd.nid, c.dim, v)) = child.nid
            next += child
          }
        }
      }
      frontier = next.toSeq
      level += 1
      more = frontier.nonEmpty
    }
    base.unpersist()

    // bottom-up assembly with the sequential path's exact merge/abandon/
    // dedup semantics (RevRecAdtributor.run)
    def assemble(nid: Long): Seq[Candidate] = {
      val nd = nodeOf(nid)
      val explanatory = topks(nid).map(c =>
        Candidate(c.elements.map(e => Seq(c.dim -> e)), Seq(c.dim), c.ep, c.surprise))
      val expanded = explanatory.flatMap { cand =>
        val dim = cand.cuboid.head
        val remaining = RevRecAdtributor.remainingDims(nd.dims, dim)
        if (remaining.isEmpty) Seq(cand)
        else {
          val perElement = cand.elements.map { elem =>
            val value = elem.head._2
            assemble(children((nid, dim, value))).map { es =>
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
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, Candidate]
      expanded.foreach { c =>
        val key = c.elements.flatMap(_.map(_._2).sorted).mkString("")
        if (!seen.contains(key)) seen(key) = c
      }
      seen.values.toSeq
    }

    roots.map(r => r.instance -> assemble(r.nid)).toMap
  }

  /** Canonical per-instance prediction strings. */
  def predictions(results: Map[String, Seq[Candidate]]): Map[String, Seq[String]] =
    results.view.mapValues(RevRecAdtributor.predictions).toMap
}

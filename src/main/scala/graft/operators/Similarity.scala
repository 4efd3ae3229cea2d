package graft.operators

import graft.functions.VectorOps
import graft.sources.Store
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.functions._

/** Dense similarity search (the reference's J1: 1xd query vs Nxd corpus exact
  * inner-product top-k, reference `utils/faiss_processing.py:118-173`).
  *
  * The query side is a 1-row (or few-row) DataFrame that is broadcast; the
  * corpus side streams through a codegen'd scan->dot->TakeOrderedAndProject
  * pipeline — no shuffle of the corpus at all. Candidate filters compose in
  * front as semi/anti joins (see [[Candidates]]), reproducing the
  * `IDSelectorArray` pushdown. Approximate variants for the 100 TB path live
  * here too (cluster-pruned IVF; see also label-partitioned storage).
  */
object Similarity {

  /** The persisted dense-index artifact bundle (the engine's FAISS-index
    * file analog, SURVEY §4.2): `centroids` = the fitted k-means cell
    * centers ([[kmeansFit]]), `cells` = the corpus cell-PARTITIONED by its
    * [[assignCells]] assignment, `codebooks` = Lloyd-refined PQ codebooks
    * ([[pqRefineCodebooks]]), `codes` = the corpus PQ-encoded
    * ([[pqEncode]]) and cell-partitioned, `cellStats` = the per-(cell,
    * attribute) admissible-count histogram ([[cellStats]]) when the build
    * declared stats columns — the artifact the ADAPTIVE probe planner
    * reads instead of scanning the corpus per request. All are written
    * ONCE at build time; every serving path here reads them and never
    * trains. */
  case class DenseIndex(
      centroids: DataFrame,
      cells: DataFrame,
      codebooks: DataFrame,
      codes: DataFrame,
      cellStats: Option[DataFrame] = None,
      defaultNprobe: Option[Int] = None,
      radii: Option[DataFrame] = None,
      int8: Option[DataFrame] = None,
      rotation: Option[DataFrame] = None,
      binary: Option[DataFrame] = None,
      defaultKCoarseBq: Option[Int] = None,
      // two-level coarse hierarchy ([[buildCoarseHierarchy]]): present
      // when the build's nlist crossed `coarseHierarchyMinNlist` — the
      // facade probes two-level through [[probe]] when these are set
      // (the driver then holds sqrt(nlist) L1 rows, never the full
      // centroid table), flat otherwise
      l1: Option[DataFrame] = None,
      l2: Option[DataFrame] = None,
      defaultNprobeL1: Option[Int] = None,
      // PQ geometry of the codes/codebooks artifacts (the `params` row's
      // num_sub/sub_dim) — carried so a facade serving the quantized leg
      // needs no caller-side geometry constants
      numSub: Int = 8,
      subDim: Int = 8) {
    /** The `(l1, l2)` pair every `hierarchy` parameter takes. */
    def hierarchy: Option[(DataFrame, DataFrame)] = l1.zip(l2)
  }

  /** Default nlist threshold above which [[buildDenseIndex]] emits the
    * two-level coarse hierarchy: past ~64k cells the flat centroid
    * collect ([[CentroidCache]]) starts to strain the driver (measured
    * 307 MB at nlist=1e5 x d=768 — CoarseProbe, BASELINE.md r16), and the IMI-style
    * hierarchy bounds it at sqrt(nlist). Below it, flat probing is both
    * exact and cheaper (no second ranking stage). */
  val HierarchyMinNlist: Int = 1 << 16

  /** Dense-index build sizing: how many IVF cells, PQ subspaces and
    * codebook entries to train for a corpus of N rows x d dims, plus the
    * serving probe default. [[IvfParams.auto]] wires the k ~ sqrt(N) rule
    * so callers of [[buildDenseIndex]] never hand-pick index geometry:
    *
    *  - `nlist` (IVF cell count) = ceil(4 * sqrt(N)) clamped to [1, N] —
    *    the published FAISS guideline (nlist between 4*sqrt(N) and
    *    16*sqrt(N); the low end keeps training cost at ~nlist * iters
    *    dots/row while cells stay large enough to amortize per-partition
    *    overhead). At 3e10 rows (a 100 TB corpus at d=768 floats) this is
    *    ~700k cells of ~43k rows — both sides comfortably in range of
    *    [[assignCellsChunked]] and the partitioned cell store.
    *  - `subDim` = the divisor of d nearest 8 (more subspaces on a tie),
    *    excluding d itself when any proper divisor >= 2 exists — the
    *    FAISS-typical 8-dims-per-sub-quantizer shape; `numSub` = d/subDim.
    *    A d with no proper divisor falls back to one d-dim subspace.
    *  - `numCentroids` (codes per subspace) = min(256, N): 256 keeps one
    *    code in one byte — the PQ storage story.
    *  - `defaultNprobe` = max(1, nlist/16): a recall-leaning starting
    *    point; tune per dataset from the measured recall-vs-nprobe curve
    *    ([[graft.RecallProbe]] emits it from the persisted index).
    *
    * Training depth defaults (`lloydIters` = 2, `pqIters` = 1) match the
    * measured diminishing-returns point on the testbed (PqRefineSpec). */
  case class IvfParams(
      nlist: Int,
      lloydIters: Int,
      numSub: Int,
      subDim: Int,
      numCentroids: Int,
      pqIters: Int,
      defaultNprobe: Int) {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(numSub >= 1 && subDim >= 1,
      s"PQ geometry must be positive, got numSub=$numSub subDim=$subDim")
    require(numCentroids >= 1, s"numCentroids must be >= 1, got $numCentroids")
    require(defaultNprobe >= 1 && defaultNprobe <= nlist,
      s"defaultNprobe must be in [1, nlist], got $defaultNprobe (nlist=$nlist)")

    /** Default TRAINING-SAMPLE target for this geometry (r14; the r13
      * sensitivity run, BASELINE.md): `max(39*nlist, 256*numCentroids,
      * 400000)`. 39/centroid is the published FAISS warning floor for the
      * coarse k-means; 256/code is its clamp ceiling for the PQ codebooks;
      * the 400k floor is the MEASURED plateau for PQ recall on the 1M x
      * d=768 flagship (a 156k = 39*nlist sample cost ~0.03 ADC recall,
      * 400k recovered the full-corpus curve for +200 s of build). A target
      * >= N degenerates to the full corpus, so small builds are always
      * unsampled and bit-identical to the pre-r14 default. */
    def autoTrainSample: Long =
      math.max(math.max(39L * nlist, 256L * numCentroids), 400000L)
  }

  object IvfParams {
    /** The k ~ sqrt(N) sizing rule (see class doc for the derivation). */
    def auto(n: Long, d: Int): IvfParams = {
      require(n > 0, s"corpus must be non-empty, got n=$n")
      require(d > 0, s"dims must be positive, got d=$d")
      val nlist = math.min(n,
        math.max(1L, math.ceil(4.0 * math.sqrt(n.toDouble)).toLong)).toInt
      val subDim = {
        val proper = (2 until d).filter(d % _ == 0)
        if (proper.isEmpty) d
        else proper.minBy(s => (math.abs(s - 8), s))
      }
      IvfParams(
        nlist = nlist,
        lloydIters = 2,
        numSub = d / subDim,
        subDim = subDim,
        numCentroids = math.min(256L, n).toInt,
        pqIters = 1,
        defaultNprobe = math.max(1, nlist / 16))
    }
  }

  /** One-call dense-index BUILD (FAISS `train()` + `add()` + write, SURVEY
    * §4.2): fits k-means centroids ([[kmeansFit]]), lands the corpus
    * cell-PARTITIONED under its assignment, trains Lloyd-refined PQ
    * codebooks ([[pqCodebooks]] init + [[pqRefineCodebooks]]) and encodes
    * the corpus to cell-partitioned codes — the four persisted artifacts
    * every serving path here reads ([[ivfSearchPruned]],
    * [[ivfPqSearchPruned]], [[ivfPqRefineSearch]], the batch forms, and
    * [[graft.streaming.IncrementalIndex.updateDenseIndex]] which maintains
    * the same layout incrementally). With `params` omitted the geometry
    * comes from [[IvfParams.auto]] on the corpus' measured (N, d) — the
    * k ~ sqrt(N) rule — so the call scales from the 500-row testbed to an
    * IVF-scale corpus without hand-tuning; the assignment kernel is picked
    * by nlist exactly as [[kmeansFit]] picks it (packed argmax <= 4096,
    * primitive-loop bulk kernel to 2^16, bounded chunk fold past that).
    * `trainSampleRows` bounds the TRAINING passes (centroid fit, OPQ
    * rotation, PQ codebooks) to a deterministic hash sample — the FAISS
    * sampled-training discipline; per-row artifacts (cells, codes, int8,
    * radii) always cover the full corpus. Omitted, it defaults to
    * [[IvfParams.autoTrainSample]] (the measured 400k-class plateau floor;
    * a target >= N — including every small corpus — trains unsampled);
    * pass `Some(Long.MaxValue)` to force a full-corpus fit at any scale.
    * Build is a run-ONCE step: serving never re-enters this method. */
  def buildDenseIndex(
      emb: DataFrame,
      outDir: String,
      params: Option[IvfParams] = None,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      statsCols: Seq[String] = Seq.empty,
      calibrateRecall: Option[Double] = None,
      calibrateK: Int = 20,
      calibrateQueries: Int = 20,
      opqRotateIters: Option[Int] = None,
      trainSampleRows: Option[Long] = None,
      coarseHierarchyMinNlist: Int = HierarchyMinNlist,
      coarseGroups: Int = 0,
      coarseLloydIters: Int = 4): DenseIndex =
    JobPhases(emb.sparkSession, "buildDenseIndex") { phase =>
      val spark = emb.sparkSession
      // every leg starts with `phase(...)`, which names its Spark jobs (job
      // description "buildDenseIndex: <leg>"), so a listener attributes the
      // build's wall to training vs the corpus-bound assign/encode/int8/
      // radii/writes without touching the artifact outputs
      phase("geometry + training sample")
      var counted: Option[Long] = None
      def nRows: Long = counted.getOrElse {
        val c = emb.count(); counted = Some(c); c
      }
      var dims: Option[Int] = None
      val p = params.getOrElse {
        val m = emb.select(count(lit(1)).as("n"), max(size(col(vecCol))).as("d")).head()
        counted = Some(m.getLong(0))
        dims = Some(if (m.isNullAt(1)) 0 else m.getInt(1))
        IvfParams.auto(m.getLong(0), dims.get)
      }
      // FAISS-style BOUNDED TRAINING SAMPLE (faiss clamps k-means training
      // at ~256 points/centroid and warns below ~39/centroid): the TRAINED
      // artifacts — coarse centroids, OPQ rotation, PQ codebooks — are
      // statistics of the corpus distribution, so fitting them on a
      // deterministic hash sample of ~trainSampleRows rows loses nothing at
      // scale while cutting every Lloyd pass from corpus-sized to
      // sample-sized; the FULL corpus still flows through assignment,
      // encode, int8 and radii (those are per-row artifacts, not
      // statistics). The sample is a map-only hash-threshold filter — no
      // sort, no shuffle, reproducible (same id space -> same sample), and
      // a target >= N degenerates to the full corpus (SampledTrainSpec
      // pins that the degenerate build is bit-identical to an unsampled
      // one). The default target is [[IvfParams.autoTrainSample]] (r14);
      // explicit callers should pass >= 39 x max(nlist, numCentroids) — the
      // published FAISS floor.
      // r14: the sample target defaults to [[IvfParams.autoTrainSample]] —
      // callers stop hand-picking; pass Some(Long.MaxValue) to force an
      // unsampled build. Small corpora (N <= 400k) always train unsampled.
      val target = trainSampleRows.getOrElse(p.autoTrainSample)
      require(target >= math.max(p.nlist, p.numCentroids),
        s"training sample $target smaller than the largest codebook " +
          s"(nlist=${p.nlist}, numCentroids=${p.numCentroids})")
      val (trainDf, trainRows) =
        if (target >= nRows) (emb, nRows)
        else {
          val cut = (target.toDouble / nRows * (1L << 60)).toLong
          val sampled = emb.filter(graft.operators.Dedup.hash60(
            concat(lit("trainsample:"), col(idCol).cast("string"))) < lit(cut))
          // the hash-threshold filter is BINOMIAL in what it admits: the
          // REALIZED sample can undershoot the requested target, and on a
          // corpus barely above the codebook floor it can fall below
          // max(nlist, numCentroids) even when the request clears it —
          // kmeansFit would then silently init fewer centroids than the
          // configured geometry. Count the realized sample (one map-only
          // pass, build-time only) and fall back to the full corpus when it
          // is under the floor.
          val realized = sampled.count()
          if (realized < math.max(p.nlist, p.numCentroids)) (emb, nRows)
          else (sampled, realized)
        }
      // each persisted store is READ ONCE, with the schema it was written
      // with, and the frame reused by every later leg and by the returned
      // index; [[Store.read]] lists the store in process, so a read runs
      // no Spark job (the stock reader ran a 179-task listing job per
      // read of a 179-cell store, and a footer job per read)
      def readBack(sub: String, written: DataFrame): DataFrame =
        Store.read(spark, s"$outDir/$sub", Some(written.schema))
      phase("coarse kmeans fit + centroids write")
      // at serve_small scale (2k x d=64) the fit runs on the driver: one
      // collect instead of 16 Spark jobs (see kmeansFit)
      val cents = kmeansFitSized(trainDf, p.nlist, p.lloydIters, idCol, vecCol,
        "kmeans", 6, 8, dims.map(trainRows * _))
      Store.writeSingle(cents, s"$outDir/centroids")
      cents.unpersist() // kmeansFit's contract: the caller owns the frame
      val centArt = readBack("centroids", cents)
      // TWO-LEVEL coarse hierarchy (VERDICT r15 #1): past the nlist
      // threshold the flat centroid collect stops being driver-safe, so the
      // build emits the l1/l2 artifact ([[buildCoarseHierarchy]] — a
      // kmeans over the nlist centroids, sqrt(nlist)-row L1 + gid-
      // partitioned L2) and the facade probes it two-level through
      // [[probe]]. Below the threshold nothing is written and
      // serving stays flat (exact, cheaper).
      val hierArt =
        if (p.nlist < coarseHierarchyMinNlist) None
        else {
          phase("coarse hierarchy fit + l1/l2 write")
          Some(buildCoarseHierarchy(centArt, outDir, coarseGroups,
            coarseLloydIters))
        }
      phase("full-corpus assign + cells write")
      // same dispatch as the kmeansFit iterations: packed only at coarse
      // nlist — the packed HOF argmax is interpreted per row and at
      // IVF-scale nlist it dominates the build (RecallScaleProbe r12,
      // BASELINE.md round-14 results).
      // Past the hierarchy threshold the corpus assigns THROUGH the
      // hierarchy ([[assignCellsHierarchical]], VERDICT r16 #3): the flat
      // argmax at nlist≈10⁵ costs ~25x the IMI-style two-stage assign
      // (BigNlistProbe, BASELINE.md r16), and calibration below measures recall over the
      // cells as LANDED, so the IMI approximation is priced in.
      val assigned = hierArt match {
        case Some((l1a, l2a)) => assignCellsHierarchical(emb, l1a, l2a, vecCol)
        case None =>
          if (p.nlist <= 64) assignCells(emb, centArt, vecCol)
          else if (p.nlist <= (1 << 16)) assignCellsBulk(emb, centArt, vecCol)
          else assignCellsChunked(emb, centArt, vecCol)
      }
      // writeClustered, not writePartitioned: a direct dynamic-partition
      // write of an nlist-cardinality column emits a file per (task, cell)
      // pair — ~78k files at the flagship geometry, measured 8x slower to
      // write and 24x slower for every downstream leg's scan (WriteProbe,
      // BASELINE.md r14). One hash shuffle on the cell id buys ~1 file/cell.
      Store.writeClustered(assigned, s"$outDir/cells", "cluster")
      val cellsArt = readBack("cells", assigned)
      phase("PQ codebook train (+ rotation fit)")
      // OPQ-STYLE rotation (FAISS OPQMatrix analog, Ge et al. 2013): fit the
      // full-d principal basis ONCE ([[pcaTopComponents]] — its own doc
      // comment calls this the OPQ rotation estimate), persist it as the
      // `rotation` artifact, and train/encode PQ in the ROTATED coordinates.
      // Rotation is orthogonal so inner products are unchanged (parity
      // spec-pinned in OpqSpec); what changes is where the variance lands —
      // PCA packs it into the leading coordinates instead of leaving
      // correlated structure straddling subspace boundaries, so the same
      // code budget quantizes tighter (measured distortion drop, OpqSpec /
      // BASELINE.md). IVF geometry (centroids/cells) stays in the raw
      // coordinates — only the PQ stage rotates; serving rotates the query
      // through [[pqAdcScoreRotated]]. At d=768 the fit is a build-once
      // driver cost over the d²-row Gram — run it on a hash sample like the
      // PCA fit itself.
      val rotArt = opqRotateIters.map { it =>
        val rot = pcaTopComponents(trainDf, vecCol, m = p.numSub * p.subDim, iters = it)
        Store.writeSingle(rot, s"$outDir/rotation")
        readBack("rotation", rot)
      }
      // collect the m×d component matrix ONCE; both rotate applications
      // (PQ train sample + cell-store encode source) reuse it
      val rotCoefs = rotArt.map(rot =>
        rotationCoefs(rot, Some((p.numSub, p.subDim))))
      val pqTrain = rotCoefs.fold(trainDf.select(col(idCol), col(vecCol)))(cs =>
        rotateVectorsPrepared(trainDf.select(col(idCol), col(vecCol)), cs, vecCol))
      val cbr = pqRefineCodebooks(
        pqTrain, pqCodebooks(pqTrain, p.numSub, p.subDim, p.numCentroids, idCol, vecCol),
        p.numSub, p.subDim, iters = p.pqIters, idCol = idCol, vecCol = vecCol)
      Store.writeSingle(cbr, s"$outDir/codebooks")
      cbr.unpersist() // pqRefineCodebooks' contract: caller owns the frame
      val cbArt = readBack("codebooks", cbr)
      phase("full-corpus PQ encode + codes write")
      val encodeSrc = rotCoefs.fold(cellsArt)(cs =>
        rotateVectorsPrepared(cellsArt, cs, vecCol))
      // the codes/int8 writes below stay DIRECT (no repartition): they scan
      // the now-CLUSTERED cells store (~1 file per cell), so each cell's
      // rows arrive in one scan task and the dynamic-partition write emits
      // ~nlist files total — the repartition would re-shuffle the corpus
      // for a file count the upstream layout already guarantees
      val codes = pqEncode(encodeSrc, cbArt, p.numSub, p.subDim,
        idCol, vecCol, carry = Seq("cluster"))
      Store.writePartitioned(codes, s"$outDir/codes", "cluster")
      phase("cellstats + radii")
      // per-(cell, attribute) admissible-count histogram: nlist x |attr| rows
      // (coarse-quantizer scale), written once so adaptive probe PLANNING
      // reads this instead of a per-request corpus pass
      val statsArt = if (statsCols.isEmpty) None else {
        val st = cellStats(cellsArt, statsCols)
        Store.writeSingle(st, s"$outDir/cellstats")
        Some(readBack("cellstats", st))
      }
      // per-cell radii: nlist rows, one corpus pass — the exact cell-skip
      // bound for range (radius) serving ([[ivfRangeSearchPruned]]).
      // vecCol must thread through: a build over a non-default vector
      // column ("clip") crashed here until the r13 serve-mix bench hit it
      val radii = cellRadii(cellsArt, centArt, vecCol)
      Store.writeSingle(radii, s"$outDir/radii")
      phase("int8 encode + write")
      // SQ8 store: the byte-per-dim serving artifact for the scalar-
      // quantized two-stage path ([[ivfInt8RefineSearch]]) — same cell
      // partitioning, 4x less scan IO than the float cells
      val int8 = int8EncodeCells(cellsArt, idCol, vecCol, "cluster")
      Store.writePartitioned(int8, s"$outDir/int8", "cluster")
      phase("binary encode + write")
      // binary signature store: 1 bit/dim packed into BIGINT words — the
      // smallest coarse-scan artifact (32x under float, 8x under SQ8),
      // served two-stage by [[ivfBinaryRefineSearch]]; same cell
      // partitioning, so the scan prunes identically
      val bin = binaryEncodeCells(cellsArt, idCol, vecCol, "cluster")
      Store.writePartitioned(bin, s"$outDir/bin", "cluster")
      phase("recall calibration")
      // serving default: RECALL-CALIBRATED against the just-persisted
      // artifacts when a target is given (the static nlist/16 rule is
      // corpus-blind — on an unclusterable or tiny geometry it can ship a
      // default that silently serves bad recall), else the static rule.
      // Persisted with the geometry as the 1-row `params` artifact so the
      // committed default is part of the index, not a caller-side constant.
      val binArt = readBack("bin", bin)
      val (np, kcBq, npL1) = calibrateRecall match {
        case Some(target) =>
          val sample = emb
            .select(col(idCol), col(vecCol), graft.operators.Dedup.hash60(
              concat(lit("cal:"), col(idCol).cast("string"))).as("__h"))
            .orderBy(col("__h"), col(idCol)).limit(calibrateQueries)
            .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
          // the exact truth sets cost one full-corpus batch scan — compute
          // once, share across all calibrations
          val truth = calibrationTruth(cellsArt, sample, calibrateK,
            idCol, vecCol)
          // when the hierarchy exists, calibrate the (nprobeL1, nprobe)
          // pair JOINTLY (VERDICT r16 #7): the two knobs trade off and the
          // recall surface has non-monotone cross terms, so fixing nprobe
          // at the flat optimum first and searching nprobeL1 second can
          // land a costlier pair than the target needs — the joint sweep
          // picks the min-serving-cost pair on the measured surface.
          // Hierarchy-less builds keep the single-axis flat calibration.
          val pair = hierArt.map { case (l1a, l2a) =>
            calibrateNprobePair(cellsArt, l1a, l2a, sample, calibrateK,
              target, nRows, idCol, vecCol, truth = Some(truth))
          }
          val npServe = pair.map(_._2).getOrElse(
            calibrateNprobe(cellsArt, centArt, sample, calibrateK,
              target, idCol, vecCol, truth = Some(truth)))
          // kCoarse for the 1-bit store is calibrated AT the probe shape
          // that will actually serve — the (nprobeL1, nprobe) pair through
          // the hierarchy when one exists (ADVICE r17: a flat-probe
          // measurement certifies a different cell set than the partial-L1
          // serving probe opens), flat nprobe otherwise — so the persisted
          // (default_nprobe_l1, default_nprobe, default_kcoarse_bq) triple
          // serves the target together, reachable by construction
          // (see [[calibrateKCoarseBinary]])
          val kc = calibrateKCoarseBinary(binArt, cellsArt, centArt, sample,
            npServe, calibrateK, target, nRows, idCol, vecCol,
            truth = Some(truth), hierarchy = hierArt,
            nprobeL1 = pair.map(_._1))
          (npServe, Some(kc), pair.map(_._1))
        case None =>
          // uncalibrated hierarchy serves FULL level-1 probe (bit-parity
          // with the flat probe) — safe by construction, no measured knob
          (p.defaultNprobe, None, hierArt.map(_._1.count().toInt))
      }
      phase("params write")
      Store.writer(spark.range(1).select(
        lit(p.nlist).as("nlist"), lit(p.numSub).as("num_sub"),
        lit(p.subDim).as("sub_dim"), lit(p.numCentroids).as("num_centroids"),
        lit(np).as("default_nprobe"),
        kcBq.map(lit).getOrElse(lit(null).cast("int"))
          .as("default_kcoarse_bq"),
        npL1.map(lit).getOrElse(lit(null).cast("int"))
          .as("default_nprobe_l1"),
        calibrateRecall.map(lit).getOrElse(lit(null).cast("double"))
          .as("target_recall")).coalesce(1))
        .parquet(s"$outDir/params")
      DenseIndex(
        centroids = centArt,
        cells = cellsArt,
        codebooks = cbArt,
        codes = readBack("codes", codes),
        cellStats = statsArt,
        defaultNprobe = Some(np),
        radii = Some(readBack("radii", radii)),
        int8 = Some(readBack("int8", int8)),
        rotation = rotArt,
        binary = Some(binArt),
        defaultKCoarseBq = kcBq,
        l1 = hierArt.map(_._1),
        l2 = hierArt.map(_._2),
        defaultNprobeL1 = npL1,
        numSub = p.numSub,
        subDim = p.subDim)
    }

  /** The exact top-k truth sets of a calibration sample — one
    * full-corpus batch scan, shared by [[calibrateNprobe]] and
    * [[calibrateKCoarseBinary]] so a build calibrating both defaults
    * pays for it once. */
  def calibrationTruth(
      cells: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Map[Long, Set[Long]] =
    knnBatch(cells.select(col(idCol), col(vecCol)), queries, k, idCol, vecCol)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  /** BUILD-TIME nprobe calibration: the smallest nprobe whose measured
    * recall@k on a deterministic query sample meets `targetRecall` —
    * replacing the corpus-blind static default (nlist/16) with one
    * measured against the index that will actually serve. Recall is
    * monotone in nprobe (probing np+1 cells scans a superset of probing
    * np — same centroid-ranking prefix), so exponential + binary search
    * finds the minimum in O(log nlist) batch searches; each search is
    * sample-sized, pruned serving work, and the whole calibration is a
    * run-once build step (FAISS users do exactly this sweep by hand
    * against `nprobe` before deploying an IVF index). Full probe is
    * exact, so any target <= 1.0 is reachable. */
  def calibrateNprobe(
      cells: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      targetRecall: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      truth: Option[Map[Long, Set[Long]]] = None): Int = {
    require(targetRecall > 0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    val exact = truth.getOrElse(
      calibrationTruth(cells, queries, k, idCol, vecCol))
    require(exact.nonEmpty, "calibration query sample is empty")
    val nlist = centroids.count().toInt
    val memo = scala.collection.mutable.Map.empty[Int, Double]
    def recallAt(np: Int): Double = memo.getOrElseUpdate(np, {
      val ann = ivfSearchBatchPruned(cells, centroids, queries, np, k,
          idCol, vecCol, clusterCol)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, ids) =>
        ids.intersect(ann.getOrElse(q, Set.empty)).size.toDouble / ids.size
      }.sum / exact.size
    })
    var lo = 1
    var hi = 1
    while (hi < nlist && recallAt(hi) < targetRecall) {
      lo = hi + 1
      hi = math.min(nlist, hi * 2)
    }
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (recallAt(mid) >= targetRecall) hi = mid else lo = mid + 1
    }
    lo
  }

  /** BUILD-TIME kCoarse calibration for the 1-bit binary family (VERDICT
    * r14 #2): the smallest coarse-shortlist size whose measured recall@k
    * through [[ivfBinaryRefineSearchBatch]] meets `targetRecall` at the
    * index's serving `nprobe` — the [[calibrateNprobe]] analog for the
    * knob the 1-bit family actually trades on (r14's honest measurement:
    * sign-Hamming at kCoarse=20 serves 0.2-0.5 recall — a 1-bit coarse
    * rank needs a DEEPER shortlist than a byte or float one, and how
    * much deeper is a property of the corpus, so it must be measured at
    * build time, not assumed). Recall is monotone in kCoarse (a larger
    * shortlist re-scores a superset — the coarse Hamming ranking prefix
    * is shared), so exponential + binary search finds the minimum in
    * O(log) sample-sized batch searches. REACHABILITY: at kCoarse >= the
    * probed cells' row count the refine stage re-scores every probed row
    * exactly, i.e. the search degenerates to [[ivfSearchBatchPruned]] at
    * the same nprobe — so any target the nprobe calibration met is
    * reachable here, and the search is capped at `corpusRows` (returning
    * the cap means the nprobe ceiling binds, not the 1-bit cut). */
  def calibrateKCoarseBinary(
      binStore: DataFrame,
      cells: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      nprobe: Int,
      k: Int,
      targetRecall: Double,
      corpusRows: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      truth: Option[Map[Long, Set[Long]]] = None,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): Int = {
    require(targetRecall > 0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    val exact = truth.getOrElse(
      calibrationTruth(cells, queries, k, idCol, vecCol))
    require(exact.nonEmpty, "calibration query sample is empty")
    // the search cap is the REACHABILITY bound, not the corpus count:
    // at kCoarse >= a query's probed-row count the refine re-scores
    // every probed row exactly, so no deeper shortlist can change the
    // result — capping there keeps the exponential search's largest
    // evaluations ~nprobe/nlist of the corpus instead of all of it
    // (the 100x ScaleProbe build surfaced exactly this cost)
    val cellSizes = cells.filter(col(clusterCol).isNotNull)
      .groupBy(col(clusterCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // PROBE-SHAPE DISCIPLINE (ADVICE r17): a hierarchy-carrying index
    // serves the binary path through the two-level probe at its
    // calibrated (nprobeL1, nprobe) pair — a partial-L1 probe opens a
    // DIFFERENT cell set than the flat one, so measuring kCoarse through
    // the flat probe would certify a default the serving path never
    // runs. Both the reachability bound and every recall evaluation
    // below go through the SAME dispatch the serving forms use.
    val reach = probe(centroids, hierarchy, batchQueries(queries),
        nprobeL1, nprobe, clusterCol)
      .map(_._2.map(cellSizes.getOrElse(_, 0L)).sum)
      .foldLeft(0L)(math.max)
    val cap = math.min(math.min(corpusRows, math.max(reach, k.toLong)),
      Int.MaxValue.toLong / 2).toInt
    val memo = scala.collection.mutable.Map.empty[Int, Double]
    def recallAt(kc: Int): Double = memo.getOrElseUpdate(kc, {
      val ann = ivfBinaryRefineSearchBatch(binStore, cells, centroids,
          queries, nprobe, kc, k, idCol, vecCol, clusterCol,
          hierarchy = hierarchy, nprobeL1 = nprobeL1)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, ids) =>
        ids.intersect(ann.getOrElse(q, Set.empty)).size.toDouble / ids.size
      }.sum / exact.size
    })
    var lo = k
    var hi = k
    while (hi < cap && recallAt(hi) < targetRecall) {
      lo = hi + 1
      hi = math.min(cap, hi * 2)
    }
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (recallAt(mid) >= targetRecall) hi = mid else lo = mid + 1
    }
    lo
  }

  /** Per-cell admissible-count HISTOGRAM (the build-time artifact behind
    * artifact-fed adaptive probe planning): row counts grouped by the cell
    * id and the declared attribute columns (label, tenant, partition tag,
    * ...). One partial-aggregated pass over the cell store at BUILD time;
    * the result is nlist x |attribute domain| rows — coarse-quantizer
    * scale, collected driver-side at planning time like the centroid
    * table. Null-cell rows (null-vector corpus rows) can never be probed
    * and are excluded. Refresh alongside the cells artifact (rebuild, or
    * recompute after [[graft.streaming.IncrementalIndex.compactCells]]). */
  def cellStats(
      cells: DataFrame,
      statsCols: Seq[String],
      clusterCol: String = "cluster"): DataFrame = {
    require(statsCols.nonEmpty, "cellStats needs at least one attribute column")
    cells.filter(col(clusterCol).isNotNull)
      .groupBy((clusterCol +: statsCols).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Exact scores of every corpus row against a single broadcast query vector.
    * `queryDf` must have exactly one column `qv ARRAY<FLOAT>` and one row. */
  def scoreAll(
      emb: DataFrame,
      queryDf: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    emb.crossJoin(broadcast(queryDf))
      .select(col(idCol), VectorOps.dot(col(vecCol), col("qv")).as("score"))

  /** Exact top-k (deterministic: ties broken by id). Plans as
    * TakeOrderedAndProject over the fused scan — the distributed analog of
    * FAISS's flat-index partial top-k. */
  def knnExact(
      emb: DataFrame,
      queryDf: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    scoreAll(emb, queryDf, idCol, vecCol)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** Batch kNN join: for EVERY corpus row, the top-k most similar rows of a
    * small broadcast `seeds` relation (`seed_id`, `sv`) — the k-means assign
    * step / IVF cell assignment / label-propagation primitive. The seed set
    * is packed into ONE broadcast array row (the [[assignCells]] shape
    * generalized to k>1) and each corpus row's top-k is a pure projection:
    * score every seed, `array_sort` the (sim, -seed_id) structs, slice k,
    * explode — ZERO corpus shuffle and no per-id ranking window (a
    * `row_number() OVER (PARTITION BY id)` here would exchange corpus x k
    * scored rows keyed by corpus id — a full-corpus shuffle at 100 TB;
    * VERDICT r5 graded exactly that shape down). Ties break to the LOWER
    * seed id, and null-sim entries (a null corpus vector) sort last, both
    * matching the ranking-window ordering this replaces. Packing bounds the
    * seed count exactly like [[assignCells]] (~10^4 seeds x d floats per
    * row); k-means-scale seed sets go through [[assignCellsChunked]]. */
  def knnJoin(
      corpus: DataFrame,
      seeds: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      roundTo: Int = 4): DataFrame = {
    val seedArr = seeds.agg(array_sort(collect_list(
      struct(col("seed_id").cast("long").as("s"), col("sv")))).as("__seeds"))
    val scored = transform(col("__seeds"), s =>
      struct(
        round(VectorOps.dot(col(vecCol), s.getField("sv")), roundTo).as("sim"),
        (lit(0L) - s.getField("s")).as("negs")))
    corpus.crossJoin(broadcast(seedArr))
      .select(col(idCol), slice(reverse(array_sort(scored)), 1, k).as("__top"))
      .select(col(idCol), explode(col("__top")).as("__e"))
      .select(col(idCol), (lit(0L) - col("__e.negs")).as("seed_id"),
        col("__e.sim").as("sim"))
  }

  /** Bounded per-query top-k over a `(query_id, id, score)` relation via
    * the typed [[graft.functions.TopKAggregator]]: map-side partitions
    * reduce to k-entry buffers per query BEFORE the shuffle. Shared by
    * every batch serving path. `query_id` and the id column must be
    * LongType (the typed aggregator's contract); null scores (e.g. a null
    * embedding's dot product) are dropped — a row that cannot be scored
    * cannot rank. */
  private def topKPerQuery(
      scored: DataFrame, k: Int, idName: String, scoreName: String): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val topk = new graft.functions.TopKAggregator(k).toColumn
    scored
      .filter(col(scoreName).isNotNull)
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, s) => graft.functions.ScoredId(id, s) }
      .agg(topk)
      .flatMap { case (qid, top) => top.map(e => (qid, e.id, e.score)) }
      .toDF("query_id", idName, scoreName)
  }

  /** Batch kNN serving: top-k corpus rows for EACH query of a small
    * broadcast query set `(query_id, qv)` — N requests answered in ONE
    * corpus pass (the dual of [[knnJoin]], which ranks seeds per corpus
    * row). Per-query top-k runs through the bounded typed
    * [[graft.functions.TopKAggregator]]: every map-side partition reduces
    * its corpus x queries scores to a k-bounded buffer per query BEFORE the
    * shuffle, so the exchange moves at most partitions x queries x k rows
    * and no reducer ever sorts or windows the scored stream — the plan
    * survives arbitrarily large corpora and query batches (a ranking
    * window here would concentrate the whole scored corpus on the
    * query_id reducers). `query_id` and `idCol` must be LongType. */
  def knnBatch(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      roundTo: Int = 4): DataFrame =
    topKPerQuery(
      corpus.crossJoin(broadcast(queries))
        .select(col("query_id"), col(idCol),
          round(VectorOps.dot(col(vecCol), col("qv")), roundTo).as("sim")),
      k, idCol, "sim")

  /** Relevance-feedback (Rocchio-like) rerank — the reference's `/feedback`
    * endpoint (reference `utils/faiss_processing.py:280-335`): each candidate's
    * score is adjusted by +dot(candidate, vote) for positive votes and -dot
    * for negative votes, then re-sorted.
    *
    * `candidates` = (idCol, "score", vecCol); `votes` = ("sign", "ve") — a
    * handful of rows, broadcast, so the update is one scan of the candidate
    * set (itself top-k-bounded), never of the corpus.
    */
  def feedbackRerank(
      candidates: DataFrame,
      votes: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val upd = candidates.crossJoin(broadcast(votes))
      .select(col(idCol), col("score"),
        (col("sign") * VectorOps.dot(col(vecCol), col("ve"))).as("u"))
      .groupBy(col(idCol))
      .agg(max(col("score")).as("score"), sum(col("u")).as("u"))
    upd.select(col(idCol), (col("score") + coalesce(col("u"), lit(0.0))).as("score"))
  }

  /** MAXIMAL MARGINAL RELEVANCE diversification rerank (Carbonell &
    * Goldstein 1998): greedily select `k` of the candidate shortlist,
    * each step taking the remaining candidate maximizing
    * `lambda * rel(c) - (1 - lambda) * max over selected s of sim(c, s)`
    * — relevance traded against redundancy with what is already shown,
    * the classic fix for near-duplicate result bursts.
    *
    * The greedy recurrence is inherently sequential in k, so it runs
    * driver-side over the COLLECTED shortlist — legitimate because the
    * shortlist is the retrieval stage's k-bounded output (the corpus-scale
    * work stays distributed in that stage; a kCoarse x kCoarse sim matrix
    * of a 50-row shortlist is probeCells-scale driver work). Both the
    * relevance and pair-similarity components are computed IN SPARK and
    * rounded (the engine-parity convention every oracle here relies on)
    * before the driver combines them; the combination re-rounds with the
    * same HALF_UP decimal rule Spark's `round` applies, so the selection
    * boundary is oracle-checkable. Ties break by id ascending. Returns
    * `(rnk, idCol, mmr)` in selection order. */
  /** Hard cap on the [[mmrRerank]] shortlist: the greedy recurrence is
    * driver-side over a shortlist^2 pairwise matrix, so a corpus-scale
    * candidate frame must fail loudly (4096^2 doubles ~ 128 MB is the
    * ceiling of acceptable driver work; retrieval should have k-bounded
    * the shortlist far below this). */
  val MmrMaxShortlist = 4096

  def mmrRerank(
      candidates: DataFrame,
      queryDf: DataFrame,
      k: Int,
      lambda: Double = 0.7,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      roundTo: Int = 4): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1], got $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val rel = candidates.crossJoin(broadcast(queryDf))
      .select(col(idCol),
        round(VectorOps.dot(col(vecCol), col("qv")), roundTo).as("rel"))
      .collect().map(r => r.getAs[Number](0).longValue -> r.getDouble(1)).toMap
    // an empty shortlist reranks to an empty result, like the sibling
    // serving paths — not a head-of-empty NoSuchElementException
    if (rel.isEmpty)
      return Seq.empty[(Int, Long, Double)].toDF("rnk", idCol, "mmr")
    // the pairwise step below collects a shortlist^2 similarity matrix to
    // the driver — legitimate only because the shortlist is the retrieval
    // stage's k-bounded output. Mirror Dedup.cosinePairs' guarded-oracle
    // contract: refuse a corpus-scale frame instead of OOMing the driver.
    require(rel.size <= MmrMaxShortlist,
      s"mmrRerank shortlist has ${rel.size} candidates (max $MmrMaxShortlist): " +
        "the greedy MMR recurrence materializes a shortlist^2 pairwise " +
        "similarity matrix on the driver; bound the retrieval stage's k " +
        "before reranking")
    val va = candidates.select(col(idCol).as("i"), col(vecCol).as("va"))
    val vb = candidates.select(col(idCol).as("j"), col(vecCol).as("vb"))
    val sim = va.join(broadcast(vb), col("i") =!= col("j"))
      .select(col("i"), col("j"),
        round(VectorOps.dot(col("va"), col("vb")), roundTo).as("s"))
      .collect().map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue) -> r.getDouble(2)).toMap
    def rnd(x: Double): Double =
      BigDecimal(x).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ids = rel.keys.toSeq
    val first = ids.sortBy(i => (-rel(i), i)).head
    val sel = scala.collection.mutable.ArrayBuffer(
      (1, first, rnd(lambda * rel(first))))
    val remaining = scala.collection.mutable.SortedSet(ids: _*) - first
    var rank = 2
    while (rank <= k && remaining.nonEmpty) {
      val (pick, score) = remaining.toSeq
        .map { c =>
          val ms = sel.iterator.map(s => sim((c, s._2))).max
          c -> rnd(lambda * rel(c) - (1 - lambda) * ms)
        }
        .sortBy { case (c, sc) => (-sc, c) }.head
      sel += ((rank, pick, score))
      remaining -= pick
      rank += 1
    }
    sel.toSeq.toDF("rnk", idCol, "mmr")
  }

  /** Per-row subvector decomposition for product quantization: one row per
    * (row, subspace) with the subspace's slice. Pure projection + Generator
    * — no shuffle. */
  private def subvectors(
      df: DataFrame, vecCol: String, outCol: String,
      numSub: Int, subDim: Int, keep: Seq[String]): DataFrame = {
    val pieces = transform(
      sequence(lit(0), lit(numSub - 1)),
      m => struct(m.as("m"),
        slice(col(vecCol), m * lit(subDim) + lit(1), lit(subDim)).as("sv")))
    df.select(keep.map(col) :+ explode(pieces).as("__s"): _*)
      .select(keep.map(col) :+ col("__s.m").as("m") :+ col("__s.sv").as(outCol): _*)
  }

  /** Product-quantization codebooks by deterministic sampling: the seed set
    * is the `numCentroids` corpus rows with the smallest engine-portable
    * `hash60("pq:" + id)` (ties by id), numbered 0..K-1 in hash order —
    * the SAME id-space-agnostic init as [[kmeansFit]], so offset, sparse,
    * or hashed id spaces all yield a full K-row codebook per subspace
    * (an `id < K` filter would return a partial or empty codebook on any
    * corpus whose ids don't cover 0..K-1, and PQ serving would silently
    * return nothing). Deterministic, so the whole PQ pipeline is
    * reproducible and oracle-checkable; [[pqRefineCodebooks]] bolts Lloyd
    * iterations onto this init. Output `(m, c, cbv)` — M x K rows,
    * broadcast everywhere it's used. */
  def pqCodebooks(
      emb: DataFrame, numSub: Int, subDim: Int, numCentroids: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hw = Window.orderBy(col("__h"), col(idCol))
    val seeds = emb
      .select(col(idCol), col(vecCol), graft.operators.Dedup.hash60(
        concat(lit("pq:"), col(idCol).cast("string"))).as("__h"))
      .orderBy(col("__h"), col(idCol)).limit(numCentroids)
      .select((row_number().over(hw) - 1).cast("int").as("c"), col(vecCol))
    subvectors(seeds, vecCol, "cbv", numSub, subDim, Seq("c"))
      .select(col("m"), col("c"), col("cbv"))
  }

  /** Lloyd refinement of PQ codebooks: per subspace, re-assign every
    * subvector to its argmin-squared-L2 centroid (the [[pqEncode]] argmin
    * shape, ties to the smaller code) and refit each (subspace, code) cell
    * as the decimal-exact coordinate mean — k-means in each subspace, run
    * `iters` times from the sampled [[pqCodebooks]] init. Lloyd never
    * increases within-cell distortion, so refined codebooks quantize at
    * least as tightly as the init at the SAME code budget (FAISS
    * `ProductQuantizer::train` does exactly this per sub-quantizer).
    *
    * Scale shape per iteration: the corpus subvector stream broadcast-joins
    * the (M x K)-row codebook, the argmin is a map-side-combinable
    * min(struct) keyed by (row, subspace) carrying the subvector through
    * (`first` over a constant-within-group column — no re-join with the
    * corpus), and the refit shuffles only (M x K x subDim)-key partial
    * aggregates. Like [[kmeansFit]], each iteration's (tiny) codebook is
    * persisted/materialized so iteration i+1 does not re-run 1..i; the
    * returned frame stays persisted — the caller owns unpersist. */
  def pqRefineCodebooks(
      emb: DataFrame, init: DataFrame, numSub: Int, subDim: Int,
      iters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      coordRound: Int = 8, maxJoinPairs: Int = 1024): DataFrame = {
    var cb = init
    var toFree: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      // same dispatch as [[pqEncode]]: past oracle geometry the join
      // form's numSub x K rows per vector dominate each Lloyd pass (the
      // d=64 auto geometry's 8 x 256 makes 4.1M intermediate rows per
      // pass over 2k vectors), so the assignment
      // routes through the bulk kernel (bit-identical
      // (m, c, sv) stream — PqEncodeSpec pins refine parity). As in
      // pqEncode, the dispatch collect doubles as the join route's
      // broadcast side so iteration 1's (unpersisted) init plan is not
      // computed twice (ADVICE r12).
      val cbProj = cb.select(col("m"), col("c"), col("cbv"))
      val cbRows = cbProj.collect()
      val assigned =
        if (cbRows.length <= maxJoinPairs)
          subvectors(
            emb.select(col(idCol), col(vecCol)), vecCol, "sv", numSub, subDim, Seq(idCol))
            .join(broadcast(emb.sparkSession.createDataFrame(
              java.util.Arrays.asList(cbRows: _*), cbProj.schema)), Seq("m"))
            .select(col(idCol), col("m"), col("c"), col("sv"),
              VectorOps.sqDist(col("sv"), col("cbv")).as("d"))
            .groupBy(col(idCol), col("m"))
            .agg(min(struct(col("d"), col("c"))).as("__best"),
              first(col("sv")).as("sv"))
            .select(col("m"), col("__best.c").as("c"), col("sv"))
        else
          pqAssignSvBulk(emb, cbRows, numSub, subDim, vecCol)
      val next = assigned
        .select(col("m"), col("c"), posexplode(col("sv")).as(Seq("__pos", "__x")))
        .groupBy(col("m"), col("c"), col("__pos"))
        .agg((sum(col("__x").cast("double").cast("decimal(28,12)"))
          .cast("double") / count(lit(1))).as("__mn"))
        .select(col("m"), col("c"), col("__pos"),
          round(col("__mn"), coordRound).cast("float").as("__cx"))
        .groupBy(col("m"), col("c"))
        .agg(array_sort(collect_list(struct(col("__pos"), col("__cx")))).as("__a"))
        .select(col("m"), col("c"),
          transform(col("__a"), s => s.getField("__cx")).as("cbv"))
        .persist()
      next.count()
      toFree.foreach(_.unpersist())
      toFree = Some(next)
      cb = next
    }
    cb
  }

  /** PQ encode: each row becomes M small codes — argmin squared-L2 centroid
    * per subspace (ties to the smaller code). The corpus never shuffles: the
    * codebook broadcast-joins onto the subvector stream and the argmin is a
    * map-side-combinable min(struct(dist, c)) per (row, subspace). At 100 TB
    * this is THE storage story: d floats -> M bytes per row (64x here).
    *
    * `carry` threads extra columns FUNCTIONALLY DEPENDENT on `idCol` (e.g.
    * the row's IVF cell) through the encode as additional group keys, so
    * the codes table can be written cell-partitioned straight from the
    * assigned corpus — no join back after the fact. */
  def pqEncode(
      emb: DataFrame, codebooks: DataFrame, numSub: Int, subDim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      carry: Seq[String] = Nil, maxJoinPairs: Int = 1024): DataFrame = {
    // dispatch on per-row argmin work (mirrors the kmeansFit assignment
    // dispatch): the join form materializes numSub x K intermediate rows
    // per vector before the partial min collapses them — fine at oracle
    // geometry (8x16 = 128 pairs/row, and every oracle geometry stays at
    // <= 128), ruinous at FAISS-production geometry (96 x 256 = 24,576
    // pairs/row). The bound is 1,024 so that the d=64 auto geometry
    // ([[IvfParams.auto]]: 8 x 256 = 2,048 rows) takes the bulk kernel;
    // as a join it made 4.1M intermediate rows for 2k vectors. The
    // codebook row count is probed with a bounded collect — it is the
    // broadcast-small build artifact by contract (M x K rows), so this
    // is centroid-sized. The collected rows feed BOTH routes (the join
    // route rebuilds its broadcast side from them as a local relation),
    // so a possibly unpersisted codebook plan is computed exactly once
    // (ADVICE r12).
    val proj = codebooks.select(col("m"), col("c"), col("cbv"))
    val cbRows = proj.collect()
    if (cbRows.length <= maxJoinPairs)
      pqEncodeJoin(emb,
        codebooks.sparkSession.createDataFrame(
          java.util.Arrays.asList(cbRows: _*), proj.schema),
        numSub, subDim, idCol, vecCol, carry)
    else
      pqEncodeBulk(emb, cbRows, numSub, subDim, idCol, vecCol, carry)
  }

  /** The declarative join-form encode (the oracle-geometry path): the
    * codebook broadcast-joins onto the subvector stream and the argmin is
    * a map-side-combinable `min(struct(dist, c))` per (row, subspace). */
  private[graft] def pqEncodeJoin(
      emb: DataFrame, codebooks: DataFrame, numSub: Int, subDim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      carry: Seq[String] = Nil): DataFrame = {
    val keys = idCol +: carry
    subvectors(emb.select((keys :+ vecCol).map(col): _*), vecCol, "sv",
      numSub, subDim, keys)
      .join(broadcast(codebooks), Seq("m"))
      .select(keys.map(col) ++ Seq(col("m"), col("c"),
        VectorOps.sqDist(col("sv"), col("cbv")).as("d")): _*)
      .groupBy((keys :+ "m").map(col): _*)
      .agg(min(struct(col("d"), col("c"))).as("__best"))
      .select(keys.map(col) ++ Seq(col("m"), col("__best.c").as("code")): _*)
  }

  /** Production-geometry encode: a `mapPartitions` kernel over the
    * driver-collected codebook (bounded M x K x subDim floats — ~200k at
    * 96x256x8) that computes each subspace's argmin in a primitive double
    * loop and emits the numSub code rows directly, skipping the join
    * form's numSub x K intermediate-row materialization. Bit-identical to
    * [[pqEncodeJoin]] by construction (PqEncodeSpec pins the parity):
    * same squared-L2 accumulation order as the codegen'd `SqDistF`
    * (sequential float->double over the MIN of the two lengths, so short
    * tail slices agree), ties broken to the SMALLER code (strict-less
    * scan in ascending-c order == `min(struct(d, c))`), a NULL vector
    * elects each subspace's SMALLEST code (the join form's
    * `min(struct(null, c))` — a null distance sorts NULLS-FIRST below
    * every finite one, so the smallest c wins), and an out-of-range
    * slice (empty subvector) scores 0.0 against every centroid, electing
    * the smallest code — the `slice` + min-length contract. */
  private[graft] def pqEncodeBulk(
      emb: DataFrame, cbRows: Array[org.apache.spark.sql.Row],
      numSub: Int, subDim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      carry: Seq[String] = Nil): DataFrame = {
    val spark = emb.sparkSession
    val keys = idCol +: carry
    val src = emb.select((keys :+ vecCol).map(col): _*)
    // [m] -> (codes ascending, centroid floats) — c need not be dense
    // (a Lloyd-refined codebook can lose an empty centroid)
    val byM: Array[(Array[Int], Array[Array[Float]])] = {
      val grouped = cbRows.groupBy(_.getInt(0))
      Array.tabulate(numSub) { m =>
        val rows = grouped.getOrElse(m, Array.empty)
          .sortBy(_.getInt(1))
        (rows.map(_.getInt(1)),
          rows.map(_.getSeq[Float](2).toArray))
      }
    }
    val bCb = spark.sparkContext.broadcast(byM)
    val nKeys = keys.length
    val outSchema = org.apache.spark.sql.types.StructType(
      keys.map(src.schema(_)) ++ Seq(
        org.apache.spark.sql.types.StructField("m",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.IntegerType, nullable = true)))
    val out = src.rdd.mapPartitions { it =>
      val cb = bCb.value
      it.flatMap { row =>
        val keyVals = Array.tabulate[Any](nKeys)(row.get)
        val vec: Array[Float] =
          if (row.isNullAt(nKeys)) null
          else {
            val s = row.getSeq[Any](nKeys)
            val a = new Array[Float](s.length)
            var i = 0
            val si = s.iterator
            // a null ELEMENT reads as 0.0f — the unsafe-row contract the
            // join form's SqDistF sees
            while (si.hasNext) {
              val x = si.next()
              a(i) = if (x == null) 0.0f else x.asInstanceOf[Float]
              i += 1
            }
            a
          }
        (0 until numSub).iterator.flatMap { m =>
          val (codes, cents) = cb(m)
          // an m with NO codebook rows emits nothing — the join form's
          // inner join on m drops that subspace entirely
          if (codes.isEmpty) Iterator.empty
          else {
            val code: Any =
              if (vec == null) codes(0)
              else {
                val start = m * subDim
                val svLen = math.max(0, math.min(subDim, vec.length - start))
                var best = codes(0)
                var bestD = Double.PositiveInfinity
                var ci = 0
                while (ci < cents.length) {
                  val cv = cents(ci)
                  val n = math.min(svLen, cv.length)
                  var s = 0.0
                  var i = 0
                  while (i < n) {
                    val d = vec(start + i).toDouble - cv(i).toDouble
                    s += d * d
                    i += 1
                  }
                  if (s < bestD) { bestD = s; best = codes(ci) }
                  ci += 1
                }
                best
              }
            Iterator.single(org.apache.spark.sql.Row.fromSeq(
              keyVals.toIndexedSeq ++ Seq(m, code)))
          }
        }
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** [[pqRefineCodebooks]]' bulk assignment: the [[pqEncodeBulk]] argmin
    * emitting `(m, c, sv)` — the subvector rides along for the refit
    * aggregate, exactly as the join form's `first(sv)` carries it. Same
    * distance/tie/null contracts as [[pqEncodeBulk]]; the emitted sv is
    * the raw slice (short at the tail, empty past the end, NULL for a
    * NULL vector — posexplode then drops it, as in the join form). */
  private def pqAssignSvBulk(
      emb: DataFrame, cbRows: Array[org.apache.spark.sql.Row],
      numSub: Int, subDim: Int, vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    val src = emb.select(col(vecCol))
    val byM: Array[(Array[Int], Array[Array[Float]])] = {
      val grouped = cbRows.groupBy(_.getInt(0))
      Array.tabulate(numSub) { m =>
        val rows = grouped.getOrElse(m, Array.empty)
          .sortBy(_.getInt(1))
        (rows.map(_.getInt(1)),
          rows.map(_.getSeq[Float](2).toArray))
      }
    }
    val bCb = spark.sparkContext.broadcast(byM)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("m",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.IntegerType, nullable = true),
      org.apache.spark.sql.types.StructField("sv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = true),
        nullable = true)))
    val out = src.rdd.mapPartitions { it =>
      val cb = bCb.value
      it.flatMap { row =>
        val raw: Seq[Any] = if (row.isNullAt(0)) null else row.getSeq[Any](0)
        val vec: Array[Float] =
          if (raw == null) null
          else {
            val a = new Array[Float](raw.length)
            var i = 0
            val si = raw.iterator
            while (si.hasNext) {
              val x = si.next()
              a(i) = if (x == null) 0.0f else x.asInstanceOf[Float]
              i += 1
            }
            a
          }
        (0 until numSub).iterator.flatMap { m =>
          val (codes, cents) = cb(m)
          if (codes.isEmpty) Iterator.empty
          else {
            var code: Any = codes(0)
            var sv: Any = null
            if (vec != null) {
              val start = m * subDim
              val svLen = math.max(0, math.min(subDim, vec.length - start))
              sv = raw.slice(start, start + svLen)
              var best = codes(0)
              var bestD = Double.PositiveInfinity
              var ci = 0
              while (ci < cents.length) {
                val cv = cents(ci)
                val n = math.min(svLen, cv.length)
                var s = 0.0
                var i = 0
                while (i < n) {
                  val d = vec(start + i).toDouble - cv(i).toDouble
                  s += d * d
                  i += 1
                }
                if (s < bestD) { bestD = s; best = codes(ci) }
                ci += 1
              }
              code = best
            }
            Iterator.single(org.apache.spark.sql.Row(m, code, sv))
          }
        }
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** ADC scoring over precomputed codes: build the M x K query lookup table
    * (broadcast), sum each row's M table entries (decimal-exact), top-k.
    * It scores whatever codes it is handed, so cluster pruning can restrict
    * WHICH rows are scored while codebooks stay a whole-corpus build
    * artifact ([[pqEncode]] writes the codes).
    *
    * `queryDf` is either a single query (`qv` only — top-k returned as
    * `(idCol, score)`) or a batch carrying a LongType `query_id` column —
    * then the lookup table, the join and the ADC sum are all keyed by
    * query, per-query top-k runs through the bounded
    * [[graft.functions.TopKAggregator]] (mirroring [[knnBatch]]), and the
    * result is `(query_id, idCol, score)`. Without the key a multi-row
    * queryDf would silently sum ADC contributions across queries into one
    * meaningless score. */
  def pqAdcScore(
      codes: DataFrame, codebooks: DataFrame, queryDf: DataFrame, k: Int,
      numSub: Int = 8, subDim: Int = 8,
      idCol: String = "vec_id"): DataFrame = {
    val pq = pqCodec(codes, codebooks, None, numSub, subDim)
    if (queryDf.columns.contains("query_id"))
      topKPerQuery(scoreRows(pq, codes, queryDf, Nil, Seq("query_id", idCol), "score"),
        k, idCol, "score")
    else
      scoreRows(pq, codes, queryDf, Nil, Seq(idCol), "score")
        .orderBy(col("score").desc, col(idCol))
        .limit(k)
  }

  /** The PQ ADC coarse codec over a persisted codes store. Its query side
    * is the M x K lookup table of sub-vector dots, built here and nowhere
    * else, from the query rotated into the codes' basis (a no-op without
    * a `rotation`). A code row meets its M table entries on `(m, code)`. */
  private def pqCodec(
      codes: DataFrame, codebooks: DataFrame, rotation: Option[DataFrame],
      numSub: Int, subDim: Int): Codec =
    Codec(codes, q => {
      val rq = rotateQueries(q, rotation, numSub, subDim)
      val keep = rq.columns.toSeq.filter(_ == "query_id")
      codebooks.join(broadcast(subvectors(rq, "qv", "qsv", numSub, subDim, keep)), Seq("m"))
        .select(keep.map(col) ++ Seq(col("m"), col("c").as("code"),
          VectorOps.dot(col("cbv"), col("qsv")).as("p")): _*)
    }, col("p"), lookup = Seq("m", "code"))

  /** Re-express every vector in a FITTED orthonormal basis
    * ([[pcaTopComponents]] output — the OPQ-style rotation): coordinate c
    * of the output is the row's projection on component c. Map-only, the
    * m×d matrix broadcast as packed literals (the [[pcaProjectPacked]]
    * shape), every other column carried through unchanged, output cast to
    * the engine's float-array store convention. An orthogonal rotation
    * preserves inner products and norms (OpqSpec pins score parity), so
    * rotated serving scores are the raw scores — only the SUBSPACE SPLIT
    * sees different coordinates, which is the point: PCA concentrates
    * variance into the leading coordinates instead of leaving correlated
    * structure straddling PQ subspace boundaries. */
  def rotateVectors(
      emb: DataFrame,
      components: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      projRound: Int = 6,
      allocate: Option[(Int, Int)] = None): DataFrame =
    rotateVectorsPrepared(emb, rotationCoefs(components, allocate),
      vecCol, projRound)

  /** Collect a fitted component frame ONCE into the dense coefficient
    * matrix [[rotateVectorsPrepared]] consumes — output-coordinate
    * order, eigenvalue allocation applied. Callers that rotate several
    * relations through the same basis ([[buildDenseIndex]] rotates the
    * train sample and the cell store) collect here once instead of once
    * per rotate call.
    *
    * EIGENVALUE ALLOCATION (Ge et al. 2013 §4.2 / FAISS OPQMatrix): a
    * plain PCA rotation leaves PQ distortion essentially unchanged —
    * squared error is variance-linear and total variance is rotation-
    * invariant; the measured win comes from DEALING the eigenvalue-
    * sorted components ROUND-ROBIN across the sub-quantizers, so each
    * subspace holds at most ~ceil(actives/numSub) strong directions and
    * its k-means spends the code budget on a near-1-D problem (K^-2
    * regime) instead of a full-rank one (K^-2/subDim). With
    * allocate = Some((numSub, subDim)): component c lands at output
    * coordinate (c % numSub) * subDim + c / numSub. */
  private[graft] def rotationCoefs(
      components: DataFrame,
      allocate: Option[(Int, Int)]): Array[Array[Double]] = {
    val withComp =
      if (components.columns.contains("comp"))
        components.select(col("comp").cast("int"), col("pos"), col("pc"))
      else components.select(lit(0).as("comp"), col("pos"), col("pc"))
    val byComp = withComp.collect()
      .map(r => (r.getInt(0), r.getAs[Number](1).longValue(), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, rs) => c -> rs.sortBy(_._2).map(_._3) }
    require(byComp.nonEmpty, "rotateVectors needs at least one fitted component")
    val order = allocate match {
      case Some((numSub, subDim)) =>
        require(byComp.length <= numSub * subDim,
          s"${byComp.length} components cannot allocate into " +
            s"$numSub x $subDim coordinates")
        val slots = new Array[Int](byComp.length)
        byComp.indices.foreach { c =>
          slots(c) = (c % numSub) * subDim + c / numSub
        }
        byComp.indices.sortBy(slots)   // output coordinate order
      case None => byComp.indices
    }
    order.map(c => byComp(c)._2.toArray).toArray
  }

  /** Literal-expression budget for the projection form of
    * [[rotateVectorsPrepared]]: past this many coefficient literals the
    * rotation switches to the primitive partition kernel. Two reasons,
    * measured (RotProbe, BASELINE.md r11, 10k rows at d=768): the HOF fold per literal
    * array is ~20× slower than the primitive loop (m=16: 0.214 vs
    * 0.010 ms/row — even the FULL 589,824-coefficient d=768 rotation
    * runs 0.120 ms/row in the kernel, faster than the m=16 literal
    * form), and a full-d rotation's expression tree would blow past
    * Janino codegen limits outright. The literal path is kept below the
    * budget for query-side rotations (1-row frames inside a declarative
    * serving plan — no RDD barrier, no extra job) where per-row cost is
    * irrelevant; corpus-scale rotations dispatch to the kernel. */
  private val RotateLiteralMax = 1 << 12

  /** The apply half of [[rotateVectors]] over pre-collected coefficients:
    * coordinate c of the output is the row's round-`projRound` float
    * projection on `coefs(c)`. Two bit-identical forms behind one
    * contract (null vector → all-null coordinates, length mismatch →
    * null coordinate, every other column carried through): the
    * codegen'd literal projection for small m×d, and past
    * [[RotateLiteralMax]] a mapPartitions kernel (the [[gramMatrixRaw]]
    * precedent) that broadcasts the m×d matrix implicitly via closure
    * capture and runs the same sequential-fold dot + HALF_UP round
    * ([[graft.functions.DecimalUnits.roundDouble]]) per row — parity
    * spec-pinned (OpqSpec). */
  private[graft] def rotateVectorsPrepared(
      emb: DataFrame,
      coefs: Array[Array[Double]],
      vecCol: String = "embedding",
      projRound: Int = 6): DataFrame = {
    require(coefs.nonEmpty, "rotateVectors needs at least one fitted component")
    val nLits = coefs.length.toLong * coefs.map(_.length).max
    if (nLits <= RotateLiteralMax) {
      val projCols = coefs.map { v =>
        round(graft.functions.VectorOps.dotHof(col(vecCol),
          array(v.map(lit(_)).toIndexedSeq: _*)), projRound).cast("float")
      }
      emb.withColumn(vecCol, array(projCols.toIndexedSeq: _*))
    } else rotateVectorsKernel(emb, coefs, vecCol, projRound)
  }

  /** The mapPartitions half of [[rotateVectorsPrepared]] — public to the
    * test package so OpqSpec can pin kernel == literal on the same
    * inputs without crossing the [[RotateLiteralMax]] threshold. */
  private[graft] def rotateVectorsKernel(
      emb: DataFrame,
      coefs: Array[Array[Double]],
      vecCol: String = "embedding",
      projRound: Int = 6): DataFrame = {
    {
      val spark = emb.sparkSession
      val vecIdx = emb.schema.fieldIndex(vecCol)
      val outSchema = org.apache.spark.sql.types.StructType(emb.schema.map(f =>
        if (f.name == vecCol)
          f.copy(dataType = org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = true))
        else f))
      val m = coefs.length
      val out = emb.rdd.mapPartitions { it =>
        import graft.functions.DecimalUnits
        it.map { row =>
          val vals = row.toSeq.toArray
          // v == null (below) also covers a null ELEMENT inside the array:
          // the literal path's per-component fold hits the null term and
          // yields a null coordinate for EVERY component, identical to the
          // whole-vector-null case — so both collapse to the all-null row.
          val v: Array[Float] =
            if (row.isNullAt(vecIdx)) null
            else row.getSeq[Any](vecIdx) match {
              case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
              case other =>
                if (other.exists(_ == null)) null
                else {
                  val a = new Array[Float](other.length)
                  var i = 0
                  val it2 = other.iterator
                  while (it2.hasNext) { a(i) = it2.next().asInstanceOf[Float]; i += 1 }
                  a
                }
            }
          if (v == null) {
            // literal-path contract: zip_with(NULL, lits) → NULL projection
            // per component — an array of nulls, not a null array
            vals(vecIdx) = Seq.fill[Any](m)(null)
          } else {
            val arr = new Array[Any](m)
            var c = 0
            while (c < m) {
              val pc = coefs(c)
              if (v.length != pc.length) arr(c) = null // zip_with null-pad
              else {
                var acc = 0.0
                var i = 0
                while (i < pc.length) { acc += v(i).toDouble * pc(i); i += 1 }
                arr(c) = DecimalUnits.roundDouble(acc, projRound).toFloat
              }
              c += 1
            }
            vals(vecIdx) = arr.toIndexedSeq
          }
          org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq)
        }
      }
      spark.createDataFrame(out, outSchema)
    }
  }

  /** [[pqAdcScore]] against an OPQ-ROTATED codes store: the query rotates
    * through the same persisted `rotation` artifact the build encoded
    * with ([[buildDenseIndex]] `opqRotateIters`), then ordinary ADC runs
    * in the rotated coordinates — scores are inner products in a rotated
    * basis, i.e. the raw inner products up to the rotation's rounding
    * grain. Single-query (`qv`) and batch (`query_id`, `qv`) forms, like
    * [[pqAdcScore]]. */
  def pqAdcScoreRotated(
      codes: DataFrame, codebooks: DataFrame, rotation: DataFrame,
      queryDf: DataFrame, k: Int,
      numSub: Int = 8, subDim: Int = 8,
      idCol: String = "vec_id"): DataFrame =
    pqAdcScore(codes, codebooks,
      rotateQueries(queryDf, Some(rotation), numSub, subDim),
      k, numSub, subDim, idCol)

  /** Mean squared quantization error of a vector relation under a PQ
    * codebook: for every (row, subspace) subvector, the squared L2 distance
    * to its NEAREST codebook centroid (the [[pqEncode]] argmin), averaged.
    * One map-only broadcast join + one scalar aggregate — the cost of
    * encoding the relation once.
    *
    * This is the codebook-health metric behind the streaming DRIFT GATE
    * ([[graft.streaming.IncrementalIndex.updateDenseIndex]]): incremental
    * batches PQ-encode against FROZEN codebooks (FAISS retrains nothing on
    * `add()`), so as the incoming distribution shifts away from the
    * training distribution this number rises above the training-time
    * distortion and ADC recall silently decays — comparing the two is the
    * documented retrain trigger. */
  def quantizationDistortion(
      emb: DataFrame, codebooks: DataFrame, numSub: Int, subDim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Double = {
    val r = subvectors(emb.select(col(idCol), col(vecCol)), vecCol, "sv",
      numSub, subDim, Seq(idCol))
      .join(broadcast(codebooks), Seq("m"))
      .groupBy(col(idCol), col("m"))
      .agg(min(VectorOps.sqDist(col("sv"), col("cbv"))).as("d"))
      .agg(avg(col("d"))).head
    // an empty relation has no quantization error (avg over zero rows is
    // SQL NULL) — callers like the streaming drift gate must see 0, not NPE
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Element-wise mean vectors per cluster (centroid build). Decomposes the
    * array with posexplode and re-assembles with a grouped sort — shuffles
    * (cluster, dim)-sized data only. */
  def centroids(
      emb: DataFrame,
      clusterCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    emb.select(col(clusterCol), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .groupBy(col(clusterCol), col("__pos"))
      .agg(avg(col("__x")).as("__cx"))
      .groupBy(col(clusterCol))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__cx")))).as("__a"))
      .select(col(clusterCol),
        transform(col("__a"), s => s.getField("__cx").cast("float")).as("cv"))

  /** Map-only nearest-centroid assignment: every corpus row gains the id of
    * its best centroid (max rounded inner product; ties to the LOWER cluster
    * id — the corpus embeddings are L2-normalized at build time, reference
    * `clip.ipynb` cell 7, so argmax dot == argmin L2). The centroid set is
    * collapsed to a single broadcast array row and the argmax is a pure
    * projection (`array_max` over per-centroid `(sim, -cluster)` structs) —
    * NO corpus shuffle, no per-id window: this is the assignment shape that
    * survives 100 TB, where a `row_number() over (partition by id)` would
    * shuffle corpus x k scored rows.
    *
    * The single-row collect_list packing bounds k: at ~10^4 centroids x 768
    * floats the array row is tens of MB and fine; at IVF-scale k for 100 TB
    * (k ~ sqrt(N) ~ 10^5) the packed row approaches ~300 MB — past that,
    * use [[assignCellsChunked]], which folds bounded centroid slices through
    * the same argmax and never materializes the full set in one row.
    *
    * `centroids` must have (`clusterCol` int, `cv ARRAY<FLOAT>`); output is
    * `emb.*` plus `clusterCol`. Rows whose vector is null get a NULL cell
    * (they cannot be scored — guarded explicitly: without the guard the
    * all-null sim structs would tie and fall through to cluster 0). */
  def assignCells(
      emb: DataFrame,
      centroids: DataFrame,
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      simRound: Int = 6): DataFrame = {
    val centArr = centroids.agg(array_sort(
      collect_list(struct(col(clusterCol).as("c"), col("cv")))).as("__cents"))
    val best = array_max(transform(col("__cents"), c =>
      struct(
        round(VectorOps.dot(col(vecCol), c.getField("cv")), simRound).as("sim"),
        (lit(0) - c.getField("c")).as("negc"))))
    val keep = emb.columns.map(col)
    emb.crossJoin(broadcast(centArr))
      .withColumn("__best", best)
      .select(keep :+ when(col(vecCol).isNull, lit(null).cast("int"))
        .otherwise(lit(0) - col("__best.negc")).as(clusterCol): _*)
  }

  /** [[assignCells]] for IVF-scale centroid counts (k past ~10^4, where the
    * packed single-row centroid array would blow out the collect_list
    * aggregate and the broadcast): the centroid set is split into
    * `chunkSize`-id slices and FOLDED through the corpus projection — each
    * step crossJoins one bounded packed chunk row and keeps the running
    * argmax via `greatest` over the same `(sim, negc)` structs (max is
    * associative, so per-chunk winners compose to exactly the global packed
    * answer, ties still to the LOWER cluster id). The whole fold is ONE
    * map-only plan: no corpus shuffle, no per-id window, no join back on id
    * — broadcast volume per step is bounded by chunkSize x d floats, and
    * the driver holds only the k cluster IDS (ints), never the vectors.
    *
    * Null-vector rows get a NULL cell via the same `vecCol IS NULL` guard
    * as [[assignCells]] (so a degenerate all-null-sim row — e.g. a null
    * centroid vector in the relation — falls through to the lowest cluster
    * id in BOTH forms, not to NULL in one and an id in the other). An empty
    * centroid relation yields all-NULL cells; null CLUSTER IDS in the
    * centroid relation are dropped up front — they could never be returned
    * (the packed form's `negc` arithmetic nulls them out) and would NPE the
    * driver-side id collect.
    *
    * The centroid relation is read once for the id collect plus once PER
    * CHUNK (each chunk's packed-array aggregate re-executes it at runtime)
    * — callers holding a DERIVED centroid frame should persist it first,
    * as [[kmeansFit]] does with its init window. */
  def assignCellsChunked(
      emb: DataFrame,
      centroids: DataFrame,
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      simRound: Int = 6,
      chunkSize: Int = 4096): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    val ids = centroids.select(col(clusterCol).cast("int"))
      .filter(col(clusterCol).isNotNull)
      .orderBy(clusterCol).collect().map(_.getInt(0)).toSeq
    val keep = emb.columns.map(col)
    var df = emb.withColumn("__best",
      lit(null).cast("struct<sim:double,negc:int>"))
    for (chunk <- ids.grouped(chunkSize)) {
      val centArr = centroids.filter(col(clusterCol).isin(chunk: _*))
        .agg(array_sort(collect_list(
          struct(col(clusterCol).cast("int").as("c"), col("cv")))).as("__cents"))
      val chunkBest = array_max(transform(col("__cents"), c =>
        struct(
          round(VectorOps.dot(col(vecCol), c.getField("cv")), simRound).as("sim"),
          (lit(0) - c.getField("c")).as("negc"))))
      df = df.crossJoin(broadcast(centArr))
        .withColumn("__best", greatest(col("__best"), chunkBest))
        .drop("__cents")
    }
    df.select(keep :+ when(col(vecCol).isNull, lit(null).cast("int"))
      .otherwise(lit(0) - col("__best.negc")).as(clusterCol): _*)
  }

  /** Bulk-assignment KERNEL for IVF-scale centroid counts: the same
    * nearest-centroid argmax as [[assignCells]]/[[assignCellsChunked]],
    * computed by a `mapPartitions` primitive-float loop over a broadcast
    * centroid matrix instead of per-row SQL array expressions. At k ~ 10^3+
    * centroids x d=768 the declarative forms evaluate k interpreted
    * higher-order-lambda dots per row (HOF lambda bodies do not
    * whole-stage-codegen), which measured ~20x off primitive-loop speed and
    * super-linear past ~10^5 row x 10^3 centroid products (DimProbe,
    * BASELINE.md r6) — for the BUILD path, k x N dot products are a dense
    * matrix product and belong in a tight loop: this is the one genuinely
    * imperative per-partition hot loop in the engine, hence the sanctioned
    * mapPartitions escape hatch.
    *
    * Exact-parity contract (KmeansSpec asserts bulk == packed == chunked):
    * same sequential-ascending double-accumulation dot as [[VectorOps.dot]]
    * / `DotProductF`, same HALF_UP rounding to `simRound` as SQL `round`,
    * ties to the LOWER cluster id, null vector -> NULL cell, empty
    * centroids -> all-NULL cells. Null centroid ids are dropped like
    * [[assignCellsChunked]].
    *
    * The centroid matrix is collected driver-side (k x d floats — the same
    * driver-scale bound [[probeCells]] serving already assumes; ~14 MB at
    * k=4608 x d=768, ~300 MB at k=10^5 — past that use
    * [[assignCellsChunked]], which never materializes the set). */
  def assignCellsBulk(
      emb: DataFrame,
      centroids: DataFrame,
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      simRound: Int = 6): DataFrame = {
    val spark = emb.sparkSession
    val cents: Array[(Int, Array[Float])] = centroids
      .select(col(clusterCol).cast("int").as("c"), col("cv"))
      .filter(col("c").isNotNull && col("cv").isNotNull)
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(cents)
    val vecIdx = emb.schema.fieldIndex(vecCol)
    val outSchema = emb.schema.add(clusterCol,
      org.apache.spark.sql.types.IntegerType, nullable = true)
    val out = emb.rdd.mapPartitions { it =>
      val cs = bc.value
      it.grouped(64).flatMap { rowSeq =>
        val rows = rowSeq.toArray
        val vecs = rows.map(row =>
          if (row.isNullAt(vecIdx)) null
          else row.getSeq[Float](vecIdx) match {
            case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
            case other => other.toArray
          })
        val cells = new Array[Int](rows.length)
        assignBlock(cs, vecs, simRound, cells)
        rows.indices.iterator.map { r =>
          org.apache.spark.sql.Row.fromSeq(rows(r).toSeq :+
            (if (vecs(r) == null || cs.isEmpty) null else cells(r)))
        }
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** The [[assignCellsBulk]] block kernel: sets `out(r)` to the nearest
    * centroid of `cs` (ascending ids, no null vectors) for each non-null
    * `vecs(r)`; a null vector's slot, and every slot when `cs` is empty,
    * is left as it was (the caller's NULL cell). A row's result does not
    * depend on the other rows of its block, so the Spark kernel and the
    * driver-side [[kmeansFit]] call it on blocks of up to 64 rows and
    * agree bit for bit.
    *
    * ROW-BLOCKED (AssignProbe before/after in BASELINE.md r14): the
    * CENTROID loop is outermost, so each centroid vector (streamed from a
    * k x d matrix that misses cache when read per row — 12 MB at k=4000 x
    * d=768) is reused across the whole row block from L1/L2, and the row
    * block (64 x d floats, ~200 KB at d=768) stays resident. Rounding is
    * DEFERRED: the inner loop tracks the RAW running max and buffers only
    * candidates within `grain` of it (HALF_UP rounding is monotone, so any
    * centroid whose ROUNDED sim ties the rounded max has raw sim within
    * one rounding bucket of the raw max); BigDecimal runs once per
    * surviving candidate — ~1 per row — instead of once per (row,
    * centroid) pair (4e9 allocations at the 1M x 4000 flagship, the r13
    * verdict's named bottleneck). Parity with the packed SQL argmax is
    * exact and KmeansSpec-pinned: candidates arrive in ascending centroid
    * id, the strict `>` on rounded sims keeps the first (lowest id) on
    * ties. */
  private[graft] def assignBlock(
      cs: Array[(Int, Array[Float])],
      vecs: Array[Array[Float]],
      simRound: Int,
      out: Array[Int]): Unit = {
    if (cs.isEmpty) return
    val k = cs.length
    val m = vecs.length
    // 2x the rounding bucket width: over-inclusion only costs a spare
    // BigDecimal; under-inclusion (pow() rounding down) would break
    // parity, so the safety factor is deliberate
    val grain = 2.0 * math.pow(10.0, -simRound)
    val rawMax = Array.fill(m)(Double.NegativeInfinity)
    val candN = new Array[Int](m)
    val candId = Array.fill(m)(new Array[Int](4))
    val candSim = Array.fill(m)(new Array[Double](4))
    // COLUMN-MAJOR pack of the row block + dims-OUTER accumulation: a
    // single row's dot is a strict sequential double-add chain (the
    // VectorOps.dot parity contract forbids reassociation), which is
    // FP-add-latency-bound — but the block's 64 chains are independent,
    // so the dim-outer loop interleaves them to keep the FPU pipeline full
    // while each row still adds its terms in exactly ascending-dim order.
    // The flat(i*m + r) layout makes the inner row sweep contiguous and
    // branch-free — AssignProbe at 1M x 4000 x d768: 212.4 s
    // (per-(row,centroid) scalar loop + per-pair BigDecimal, r13) ->
    // 130.6 s (row-blocked, deferred rounding) -> 110.5 s (this form); the
    // array-of-arrays dims-outer variant measured 173.6 s (pointer-chasing
    // 64 arrays per dim step) and blocks of 128/256 thrash L2 (129.9/131.1
    // s). Rows shorter than the centroid are ZERO-padded: a +-0.0 tail
    // term never changes a finite partial sum, and the one observable case
    // (-0.0 vs +0.0) is erased by both the rounding and the argmax
    // comparisons — so min(v.length, cl) semantics are preserved
    // bit-for-bit (assumes finite centroid coordinates in the pad region,
    // as every fit here produces).
    var dmax = 0
    var r = 0
    while (r < m) {
      if (vecs(r) != null && vecs(r).length > dmax) dmax = vecs(r).length
      r += 1
    }
    val flat = new Array[Float](dmax * m)
    r = 0
    while (r < m) {
      val v = vecs(r)
      if (v != null) {
        var i = 0
        while (i < v.length) { flat(i * m + r) = v(i); i += 1 }
      }
      r += 1
    }
    val accs = new Array[Double](m)
    var ci = 0
    while (ci < k) {
      val id = cs(ci)._1
      val cv = cs(ci)._2
      val lim = math.min(cv.length, dmax)
      java.util.Arrays.fill(accs, 0.0)
      var i = 0
      while (i < lim) {
        val c = cv(i).toDouble
        val base = i * m
        r = 0
        while (r < m) { accs(r) += flat(base + r).toDouble * c; r += 1 }
        i += 1
      }
      r = 0
      while (r < m) {
        if (vecs(r) != null) {
          val s = accs(r)
          if (s >= rawMax(r) - grain) {
            if (s > rawMax(r)) rawMax(r) = s
            var nn = candN(r)
            if (nn == candId(r).length) {
              // compact: drop candidates that fell out of the grain
              val ids = candId(r); val ss = candSim(r)
              val lim = rawMax(r) - grain
              var w0 = 0; var j = 0
              while (j < nn) {
                if (ss(j) >= lim) { ids(w0) = ids(j); ss(w0) = ss(j); w0 += 1 }
                j += 1
              }
              nn = w0
              if (nn == ids.length) {
                candId(r) = java.util.Arrays.copyOf(ids, nn * 2)
                candSim(r) = java.util.Arrays.copyOf(ss, nn * 2)
              }
            }
            candId(r)(nn) = id
            candSim(r)(nn) = s
            candN(r) = nn + 1
          }
        }
        r += 1
      }
      ci += 1
    }
    r = 0
    while (r < m) {
      if (vecs(r) != null) {
        // SQL round(_, simRound): HALF_UP decimal rounding, applied only
        // to the grain-surviving candidates (ascending id order)
        val lim = rawMax(r) - grain
        var bestSim = Double.NegativeInfinity
        var bestC = Int.MaxValue
        var found = false
        var j = 0
        while (j < candN(r)) {
          if (candSim(r)(j) >= lim) {
            val rr = java.math.BigDecimal.valueOf(candSim(r)(j))
              .setScale(simRound, java.math.RoundingMode.HALF_UP)
              .doubleValue()
            if (!found || rr > bestSim) {
              bestSim = rr; bestC = candId(r)(j); found = true
            }
          }
          j += 1
        }
        out(r) = bestC
      }
      r += 1
    }
  }

  /** Lloyd k-means over an embeddings relation (spherical: max-inner-product
    * assignment). This is the `index.train()` step FAISS IVF/PQ presupposes
    * and the reference never runs — it stays flat-exact (reference
    * `create_bin.ipynb` cell 3) — but the engine's IVF serving core
    * ([[ivfSearchPruned]] and its siblings) and its cell-partitioned
    * storage lean on centroids existing; this produces them from
    * unlabeled embeddings.
    *
    * Deterministic end-to-end, hence oracle-checkable:
    *  - init = the k corpus rows with the smallest engine-portable
    *    `hash60(salt:id)` (ties by id), numbered 0..k-1 in hash order;
    *  - assign = [[assignCells]] (sim rounded to `simRound`, ties to the
    *    lower cluster id) — map-only, zero corpus shuffle; past 4096
    *    centroids the [[assignCellsChunked]] fold computes the SAME argmax
    *    without ever packing all k centroids into one row;
    *  - refit = per-(cluster, dim) mean via an exact DECIMAL(28,12) sum
    *    (partition-order-invariant), rounded to `coordRound` and stored as
    *    float.
    *
    * Per iteration the only shuffle is the (k x d)-key partial aggregate of
    * the refit; each iteration's centroids (k x d floats — tiny) are
    * persisted and materialized so iteration i+1's broadcast does not re-run
    * iterations 1..i (a broadcast of a derived frame re-materializes its
    * whole upstream as a separate job). An empty cluster drops out of the
    * refit exactly as a row-less group vanishes from a GROUP BY; callers
    * needing exactly k cells re-seed or lower k. Output: (`cluster` int,
    * `cv ARRAY<FLOAT>`), the shape [[assignCells]] and [[probe]] consume.
    *
    * The RETURNED frame is still persisted (k x d floats) — the caller owns
    * its lifetime: write it to the centroid artifact (or collect it) and
    * `unpersist()` it. Training is a build-time step; serving queries read
    * the persisted artifact and must never re-enter this method.
    *
    * DRIVER-SIZED fits (training rows x max d at most [[DriverFitFloats]])
    * run the same loop in process ([[kmeansFitDriver]]): one job collects
    * `(id, vector, hash)`, then the same init order, the same assignment
    * kernel ([[assignBlock]]) and the same exact-decimal mean run on the
    * driver, bit for bit the Spark fit's centroids (KmeansSpec pins it at
    * k <= 64 and k > 64). FAISS trains its quantizer on one machine too.
    * Larger fits, non-integral ids and vectors the decimal mean would null
    * out run the Spark loop ([[kmeansFitSpark]]). The size check costs one
    * aggregate job unless the caller already knows the size. */
  def kmeansFit(
      emb: DataFrame,
      k: Int,
      iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      salt: String = "kmeans",
      simRound: Int = 6,
      coordRound: Int = 8): DataFrame =
    kmeansFitSized(emb, k, iters, idCol, vecCol, salt, simRound, coordRound, None)

  /** Training rows x d at or below which [[kmeansFit]] runs on the driver:
    * 2^22 floats (16 MB of vectors), the same class of bound as the
    * centroid matrix [[assignCellsBulk]] collects. */
  private val DriverFitFloats = 1L << 22

  /** [[kmeansFit]] given `floats` = training rows x max vector length when
    * the caller has counted them (the dense build has). */
  private[graft] def kmeansFitSized(
      emb: DataFrame, k: Int, iters: Int, idCol: String, vecCol: String,
      salt: String, simRound: Int, coordRound: Int, floats: Option[Long]): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType}
    val typed = (emb.schema(idCol).dataType, emb.schema(vecCol).dataType) match {
      case (IntegerType | LongType, ArrayType(FloatType, _)) => true
      case _ => false
    }
    def measured: Long = floats.getOrElse {
      val m = emb.agg(count(lit(1)), max(size(col(vecCol)))).head()
      m.getLong(0) * (if (m.isNullAt(1)) 0 else math.max(0, m.getInt(1)))
    }
    (if (typed && measured <= DriverFitFloats)
      kmeansFitDriver(emb, k, iters, idCol, vecCol, salt, simRound, coordRound)
    else None).getOrElse(
      kmeansFitSpark(emb, k, iters, idCol, vecCol, salt, simRound, coordRound))
  }

  /** The driver form of [[kmeansFit]]: `None` (after its one collect) when
    * a vector holds a null, NaN, infinite or |x| >= 1e15 element, where the
    * Spark loop's DECIMAL(28,12) cast would null the term or raise. */
  private[graft] def kmeansFitDriver(
      emb: DataFrame, k: Int, iters: Int, idCol: String, vecCol: String,
      salt: String, simRound: Int, coordRound: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}
    val spark = emb.sparkSession
    val rows = emb.select(col(idCol).cast("long"), col(vecCol),
      graft.operators.Dedup.hash60(concat(lit(salt), lit(":"), col(idCol).cast("string"))),
      exists(col(vecCol), x => x.isNull || isnan(x) || abs(x) >= lit(1e15)))
      .collect()
    if (rows.exists(r => !r.isNullAt(3) && r.getBoolean(3))) return None
    val vecs: Array[Array[Float]] =
      rows.map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray)
    // init: the k rows with the smallest (hash, id), ascending nulls first
    // as ORDER BY sorts them, numbered 0..k-1 in that order
    def key(i: Int): (Boolean, Long, Boolean, Long) = {
      val r = rows(i)
      (!r.isNullAt(2), if (r.isNullAt(2)) 0L else r.getLong(2),
        !r.isNullAt(0), if (r.isNullAt(0)) 0L else r.getLong(0))
    }
    val init = rows.indices.sortBy(key).take(math.max(k, 0))
    if (iters <= 0) {
      val schema = StructType(Seq(StructField("cluster", IntegerType, nullable = false),
        emb.schema(vecCol).copy(name = "cv")))
      return Some(spark.createDataFrame(java.util.Arrays.asList(init.indices.map(c =>
        org.apache.spark.sql.Row(c, rows(init(c)).get(1))): _*), schema))
    }
    var cents: Seq[(Option[Int], Array[Float])] =
      init.indices.map(c => (Some(c), vecs(init(c))))
    // the packed (k <= 64) and chunked (k > 2^16) Spark forms send every
    // row to the lowest centroid id when no centroid has a vector; the
    // bulk form gives it a NULL cell
    val packedNulls = k <= 64 || k > (1 << 16)
    val n = vecs.length
    for (_ <- 1 to iters) {
      val valid = cents.collect { case (Some(c), v) if v != null => (c, v) }
        .sortBy(_._1).toArray
      val fallback =
        if (valid.nonEmpty || !packedNulls) None
        else cents.flatMap(_._1).minOption
      val cells = new Array[Int](n)
      java.util.stream.IntStream.range(0, (n + 63) / 64).parallel().forEach { b =>
        val lo = b * 64
        val out = new Array[Int](math.min(n, lo + 64) - lo)
        assignBlock(valid, vecs.slice(lo, lo + out.length), simRound, out)
        System.arraycopy(out, 0, cells, lo, out.length)
      }
      def cell(r: Int): Option[Int] =
        if (vecs(r) == null) None else if (valid.nonEmpty) Some(cells(r)) else fallback
      // refit: per-(cell, dim) exact DECIMAL(28,12) sum / row count,
      // rounded HALF_UP to coordRound, as float; a cell with no vector
      // coordinate drops out like a row-less GROUP BY group
      val groups = (0 until n).filter(r => vecs(r) != null && vecs(r).nonEmpty)
        .groupBy(cell)
      cents = groups.toSeq.map { case (c, members) =>
        val d = members.map(vecs(_).length).max
        val acc = new graft.functions.DecimalUnits.AccArray(d)
        val cnt = new Array[Long](d)
        members.foreach { r =>
          val v = vecs(r)
          var i = 0
          while (i < v.length) { acc.addProduct(i, v(i).toDouble); cnt(i) += 1; i += 1 }
        }
        c -> Array.tabulate(d)(i => graft.functions.DecimalUnits.roundDouble(
          acc.result(i).doubleValue() / cnt(i).toDouble, coordRound).toFloat)
      }
    }
    val schema = StructType(Seq(StructField("cluster", IntegerType, nullable = true),
      StructField("cv", ArrayType(FloatType, containsNull = true), nullable = false)))
    Some(spark.createDataFrame(java.util.Arrays.asList(cents.map { case (c, v) =>
      org.apache.spark.sql.Row(c.map(Int.box).orNull, v.toSeq)
    }: _*), schema))
  }

  /** The Spark form of [[kmeansFit]]: the Lloyd loop as Spark jobs. */
  private[graft] def kmeansFitSpark(
      emb: DataFrame, k: Int, iters: Int, idCol: String, vecCol: String,
      salt: String, simRound: Int, coordRound: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hw = Window.orderBy(col("__h"), col(idCol))
    var cent = emb
      .select(col(idCol), col(vecCol), graft.operators.Dedup.hash60(
        concat(lit(salt), lit(":"), col(idCol).cast("string"))).as("__h"))
      .orderBy(col("__h"), col(idCol)).limit(k)
      .select((row_number().over(hw) - 1).as("cluster"), col(vecCol).as("cv"))
      .persist()
    // materialize the init frame: iteration 1's assignment broadcasts the
    // centroid relation once per chunk in the k>4096 path (plus the id
    // collect) — unpersisted, each of those re-runs the global-window
    // init job
    cent.count()
    var toFree: Option[DataFrame] = Some(cent)
    for (_ <- 1 to iters) {
      // identical assignment all three ways (KmeansSpec parity-tests them):
      // packed single-row argmax for coarse k (the oracle geometries —
      // no driver collect, one broadcast row); from k > 64 the
      // mapPartitions BULK kernel (primitive-loop dots over a
      // driver-collected centroid matrix): the packed form's k-struct HOF
      // argmax is interpreted per row, and at IVF-scale k that dominated
      // the fit (RecallScaleProbe r12, BASELINE.md round-14 results,
      // 1M rows x k=1024: ~110 s per
      // packed assignment pass; BASELINE.md records the bulk-routed
      // re-measurement); past driver-matrix scale (~10^5 x 768) the
      // bounded chunk fold, which never materializes the full set
      val assigned =
        if (k <= 64)
          assignCells(emb.select(col(idCol), col(vecCol)), cent,
            vecCol, "cluster", simRound)
        else if (k <= (1 << 16))
          assignCellsBulk(emb.select(col(idCol), col(vecCol)), cent,
            vecCol, "cluster", simRound)
        else
          assignCellsChunked(emb.select(col(idCol), col(vecCol)), cent,
            vecCol, "cluster", simRound)
      val next = assigned
        .select(col("cluster"), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
        .groupBy(col("cluster"), col("__pos"))
        .agg((sum(col("__x").cast("double").cast("decimal(28,12)"))
          .cast("double") / count(lit(1))).as("__m"))
        .select(col("cluster"), col("__pos"),
          round(col("__m"), coordRound).cast("float").as("__cx"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("__pos"), col("__cx")))).as("__a"))
        .select(col("cluster"),
          transform(col("__a"), s => s.getField("__cx")).as("cv"))
        .persist()
      next.count()
      toFree.foreach(_.unpersist())
      toFree = Some(next)
      cent = next
    }
    cent
  }

  /** Uncentered Gram matrix `G = XᵀX` of an embedding column — the moment
    * matrix PCA / spectral methods start from. ONE corpus pass, map-only
    * feature expansion: each row emits its d² `(i, j, x_i·x_j)` products
    * via two generators over the SAME row (no self-join, so no row-id
    * shuffle of exploded coordinates), and the only shuffle is the
    * (d×d)-key partial aggregate — the reduce side sees d² keys, never
    * corpus rows. Entry sums are DECIMAL-exact (partition-order-invariant)
    * and round to `coordRound`; output `(i, j, g)` with 0-based dims. The
    * d²-fold map-side amplification is inherent to covariance — at 100 TB
    * this runs over a hash sample ([[Curation.hashSample]]), the standard
    * estimator practice, and the result is a d²-row artifact. */
  def gramMatrix(
      vecs: DataFrame,
      vecCol: String = "embedding",
      coordRound: Int = 8): DataFrame =
    roundGram(gramMatrixRaw(vecs, vecCol), coordRound)

  /** UNROUNDED Gram sums `(i, j, gsum DECIMAL)` — the MERGEABLE artifact
    * form. Because every entry is an EXACT decimal sum of the per-row
    * products, Gram artifacts over disjoint batches merge by plain
    * addition with NO error: `mergeGramRaw(g(A), g(B)) == g(A ∪ B)`
    * bit-for-bit ([[mergeGramRaw]]; spec-pinned). That makes the moment
    * matrix an incrementally-maintainable artifact in the
    * [[graft.streaming.IncrementalIndex]] sense — each arriving batch
    * contributes one batch-local Gram pass, the running artifact is a
    * d²-row add, and a PCA refresh ([[pcaPowerFit]]'s iteration half)
    * never re-reads old batches. Rounding happens ONCE, at fit time
    * ([[roundGram]]) — rounding per batch and then adding would drift
    * from the full recompute. */
  def gramMatrixRaw(
      vecs: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    // the d² expansion happens map-side BEFORE any exchange, so its
    // parallelism is the INPUT partitioning — a small fit sample read
    // from one parquet file would run the whole expansion on one task.
    // Spread narrow inputs across the cluster first (row-count shuffle of
    // the RAW vectors, cheap at fit time); wide-at-scale inputs pass
    // through untouched.
    val spark = vecs.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    val spread =
      if (vecs.rdd.getNumPartitions < parallelism) vecs.repartition(parallelism)
      else vecs
    // PRIMITIVE KERNEL (the assignCellsBulk precedent): the declarative
    // posexplode×posexplode form evaluates d² interpreted generator rows
    // per input row — measured 74 ms/row at d=768 (DimProbe, BASELINE.md
    // r9; r9 verdict #2). The Gram is a dense rank-k update and belongs in a tight
    // loop: per partition, accumulate round₁₂(xᵢ·xⱼ) of the UPPER
    // TRIANGLE (the product is symmetric, so the rounded value is too —
    // half the multiplies) into a long array of 10⁻¹² units, spilling
    // into exact BigDecimal on (rare) overflow, then emit d² mirrored
    // `(i, j, gsum DECIMAL(28,12))` partials — the SAME mergeable
    // artifact rows the explode form produced, bit for bit
    // (GramKernelSpec pins kernel == explode on the raw decimals).
    //
    // Bit-parity contract with `cast(double as decimal(28,12))`: Spark
    // casts through BigDecimal.valueOf (Double.toString shortest form)
    // then setScale(12, HALF_UP). The fast path rounds the binary
    // product at 10¹² and falls back to the exact BigDecimal form
    // whenever the scaled value sits within an error band of a
    // half-integer boundary (|band| covers both the multiply's and the
    // shortest-form's relative error, ~2.5e-16 each) — off-boundary the
    // two roundings provably agree, on-boundary the slow path decides.
    val vecIdx = spread.schema.fieldIndex(vecCol)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("gsum",
        org.apache.spark.sql.types.DecimalType(28, 12), nullable = true)))
    val out = spread.rdd.mapPartitions { it =>
      import graft.functions.DecimalUnits
      var d = 0
      var acc: DecimalUnits.AccArray = null            // upper-tri accumulators
      var rowStart: Array[Int] = null                  // tri-index base per i
      def triIndex(i: Int, j: Int): Int = rowStart(i) + (j - i)
      def grow(nd: Int): Unit = {
        val nStart = Array.tabulate(nd)(i => i * nd - i * (i - 1) / 2)
        val nAcc = new DecimalUnits.AccArray(nd * (nd + 1) / 2)
        if (acc != null) {
          var i = 0
          while (i < d) {
            var j = i
            while (j < d) {
              val o = triIndex(i, j); val n = nStart(i) + (j - i)
              nAcc.addUnits(n, acc.unitsAt(o))
              if (acc.spillAt(o) != null) nAcc.addDecimal(n, acc.spillAt(o))
              j += 1
            }
            i += 1
          }
        }
        d = nd; acc = nAcc; rowStart = nStart
      }
      it.foreach { row =>
        if (!row.isNullAt(vecIdx)) {
          val v = row.getSeq[Float](vecIdx) match {
            case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
            case other => other.toArray
          }
          val n = v.length
          if (n > d) grow(n)
          var i = 0
          while (i < n) {
            val xi = v(i).toDouble
            var j = i
            var k = rowStart(i)
            while (j < n) {
              acc.addProduct(k, xi * v(j).toDouble)
              k += 1
              j += 1
            }
            i += 1
          }
        }
      }
      if (acc == null) Iterator.empty
      else {
        val dd = d
        (0 until dd).iterator.flatMap { i =>
          (i until dd).iterator.flatMap { j =>
            val g = acc.result(triIndex(i, j))
            if (i == j) Iterator(org.apache.spark.sql.Row(i, j, g))
            else Iterator(org.apache.spark.sql.Row(i, j, g),
              org.apache.spark.sql.Row(j, i, g))
          }
        }
      }
    }
    spark.createDataFrame(out, outSchema)
      .groupBy(col("i"), col("j"))
      .agg(sum(col("gsum")).as("gsum"))
  }

  /** The DECLARATIVE posexplode×posexplode form of [[gramMatrixRaw]] —
    * kept as the kernel's bit-parity oracle (GramKernelSpec), exactly
    * like the chunked-SQL assignment backs [[assignCellsBulk]]. Same
    * output contract: `(i, j, gsum DECIMAL(28,12))`, per-product
    * decimal cast before the exact sum. */
  def gramMatrixRawExplode(
      vecs: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val parallelism = vecs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (vecs.rdd.getNumPartitions < parallelism) vecs.repartition(parallelism)
      else vecs
    spread
      .select(posexplode(col(vecCol)).as(Seq("i", "__xa")), col(vecCol).as("__v"))
      .select(col("i"), col("__xa"), posexplode(col("__v")).as(Seq("j", "__xb")))
      .groupBy(col("i"), col("j"))
      .agg(sum((col("__xa").cast("double") * col("__xb").cast("double"))
        .cast("decimal(28,12)")).as("gsum"))
  }

  /** Exact merge of [[gramMatrixRaw]] artifacts over disjoint row sets:
    * union + one (d×d)-key decimal re-sum. Decimal addition is
    * associative and exact, so any merge tree (batch-by-batch, pairwise,
    * all-at-once) produces the identical artifact. */
  def mergeGramRaw(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "mergeGramRaw needs at least one Gram part")
    parts.reduce(_ unionByName _)
      .groupBy(col("i"), col("j"))
      .agg(sum(col("gsum")).as("gsum"))
  }

  /** The fit-time rounding step: raw decimal sums -> the round-`coordRound`
    * double entries every consumer ([[pcaPowerFit]], oracles) reads. */
  def roundGram(raw: DataFrame, coordRound: Int = 8): DataFrame =
    raw.select(col("i"), col("j"),
      round(col("gsum").cast("double"), coordRound).as("g"))

  /** Top principal direction of the uncentered Gram matrix by POWER
    * ITERATION (the dominant-eigenvector step of PCA / spectral embedding
    * pipelines — e.g. the rotation estimate an OPQ-style index build
    * starts from). The corpus is touched exactly once ([[gramMatrix]]);
    * the d×d Gram is nlist-scale (corpus-INDEPENDENT, like the centroid
    * probe reads), so the iterations run on a driver-localized copy —
    * each round is `v ← round₈(G·v) / round₈(‖G·v‖)` computed with the
    * same engine ops an oracle uses (decimal-exact matvec sums, round-8
    * floats at every step), making the whole trajectory engine-portable:
    * v₀ = uniform `round₈(1/√d)`, matvec sums decimal-exact, every
    * intermediate rounded before reuse. Output one row per dimension:
    * `(pos, pc, eigval)` with `eigval` the Rayleigh quotient `vᵀGv`
    * rounded to 6 (v is unit up to the round-8 grain, and the oracle
    * computes the identical formula). Deterministic for any iteration
    * count — `iters` trades convergence for plan length, it never breaks
    * reproducibility. */
  def pcaPowerFit(
      vecs: DataFrame,
      vecCol: String = "embedding",
      iters: Int = 6,
      coordRound: Int = 8): DataFrame =
    pcaPowerFitFromGram(gramMatrix(vecs, vecCol, coordRound), iters, coordRound)

  /** [[pcaPowerFit]] from an ALREADY-COMPUTED rounded Gram `(i, j, g)` —
    * the entry the incremental store uses:
    * `pcaPowerFitFromGram(roundGram(IncrementalIndex.loadGram(...)))`
    * refreshes the components from d² accumulated rows with ZERO corpus
    * reads. Identical trajectory to the one-shot fit by construction —
    * the Gram is the fit's only corpus-dependent input. */
  def pcaPowerFitFromGram(
      gram: DataFrame,
      iters: Int = 6,
      coordRound: Int = 8): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // d² rows — corpus-independent artifact scale; the driver-local
    // iteration collects them once, so the corpus scan runs exactly once
    val (v, ray) = powerIterate(gram, iters, coordRound)
    v.crossJoin(broadcast(ray))
      .select(col("i").cast("long").as("pos"), col("v").as("pc"), col("eigval"))
  }

  /** Top-`m` principal directions by power iteration WITH DEFLATION —
    * the full rotation/whitening prep (an OPQ-style build wants the
    * leading subspace, not just the dominant axis). After each component
    * converges, the Gram deflates by its rank-1 contribution
    * (`G ← G − λ v vᵀ`, every updated entry re-rounded to `coordRound`),
    * so the next power iteration converges to the next-largest
    * eigenpair. All arithmetic runs on the driver-localized d²-row Gram
    * with the same rounded engine ops as [[pcaPowerFit]] — the corpus is
    * still touched exactly once, for any `m`. Output one row per
    * (component, dimension): `(comp, pos, pc, eigval)`, components
    * numbered 0..m-1 in non-increasing eigenvalue order; orthogonality
    * and eigenvalue ordering are spec-pinned (`EvalSpec`). */
  def pcaTopComponents(
      vecs: DataFrame,
      vecCol: String = "embedding",
      m: Int = 2,
      iters: Int = 8,
      coordRound: Int = 8): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import graft.functions.DecimalUnits
    val spark = vecs.sparkSession
    import spark.implicits._
    // DRIVER-LOCAL deflation (the powerIterate localization carried to
    // the multi-component fit): the Gram collects ONCE, each component's
    // power run and the rank-1 deflation
    // `G ← round(G − λ vᵢ vⱼ, coordRound)` execute as in-memory passes
    // with the identical rounded ops the SQL twin
    // ([[pcaTopComponentsSqlDeflate]]) schedules as per-component jobs —
    // bit parity spec-pinned (PcaPowerParitySpec), and a d=768 rotation
    // fit stops costing m d²-row Spark jobs.
    val rows = gramMatrix(vecs, vecCol, coordRound)
      .select(col("i").cast("int"), col("j").cast("int"),
        col("g").cast("double")).collect()
    require(rows.nonEmpty,
      "power iteration needs a non-empty Gram — fit on an empty or " +
        "all-null-vector corpus has no spectrum")
    val n = rows.length
    val iArr = new Array[Int](n); val jArr = new Array[Int](n)
    val gArr = new Array[Double](n)
    var r = 0
    while (r < n) {
      iArr(r) = rows(r).getInt(0); jArr(r) = rows(r).getInt(1)
      gArr(r) = if (rows(r).isNullAt(2)) Double.NaN else rows(r).getDouble(2)
      r += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    for (c <- 0 until m) {
      val (present, v, eig) = powerIterateArrays(iArr, jArr, gArr, iters, coordRound)
      var i = 0
      while (i < v.length) {
        if (present(i)) out += ((c, i.toLong, v(i), eig))
        i += 1
      }
      // deflate in place — same left-assoc multiply and round as the SQL
      // expression `round(g - eigval * vi * vj, coordRound)`
      r = 0
      while (r < n) {
        gArr(r) = DecimalUnits.roundDouble(
          gArr(r) - eig * v(iArr(r)) * v(jArr(r)), coordRound)
        r += 1
      }
    }
    localizeDf(spark, out.toSeq.toDF("comp", "pos", "pc", "eigval"))
  }

  /** The SQL-deflation twin of [[pcaTopComponents]] — kept as the
    * driver-local loop's parity oracle (each deflation round is the
    * Spark-expression join the local form mirrors). */
  private[graft] def pcaTopComponentsSqlDeflate(
      vecs: DataFrame,
      vecCol: String = "embedding",
      m: Int = 2,
      iters: Int = 8,
      coordRound: Int = 8): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = vecs.sparkSession
    var g = localizeDf(spark, gramMatrix(vecs, vecCol, coordRound))
    val comps = (0 until m).map { c =>
      val (v, ray) = powerIterate(g, iters, coordRound)
      val out = v.crossJoin(broadcast(ray))
        .select(lit(c).as("comp"), col("i").cast("long").as("pos"),
          col("v").as("pc"), col("eigval"))
      // deflate: G ← round(G − λ vᵢ vⱼ) — localized so the next power
      // pass does not re-run this one's lineage
      g = localizeDf(spark, g
        .join(v.select(col("i"), col("v").as("__vi")), Seq("i"))
        .join(v.select(col("i").as("j"), col("v").as("__vj")), Seq("j"))
        .crossJoin(broadcast(ray))
        .select(col("i"), col("j"),
          round(col("g") - col("eigval") * col("__vi") * col("__vj"),
            coordRound).as("g")))
      localizeDf(spark, out)
    }
    comps.reduce(_ unionByName _)
  }

  /** The PROJECTION apply step: every row's coordinates along FITTED
    * principal directions ([[pcaPowerFit]] output `(pos, pc)` or
    * [[pcaTopComponents]] output `(comp, pos, pc)`) — dimensionality
    * reduction before indexing, the whitening front half. Fit once,
    * project many: the m×d component matrix is corpus-independent, so it
    * collects to the driver and broadcasts as packed LITERAL arrays, and
    * the projection is ONE map-only pass — a sequential-fold dot per
    * (row, component), no shuffle, no join. Output long-form
    * `(id, comp, proj)` with `proj` rounded to `projRound`. */
  def pcaProject(
      vecs: DataFrame,
      components: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      projRound: Int = 6): DataFrame =
    pcaProjectPacked(vecs, components, idCol, vecCol, projRound)
      .select(col(idCol), posexplode(col("parr")).as(Seq("comp", "proj")))

  /** [[pcaProject]] in PACKED form: `(id, parr ARRAY<DOUBLE>)` with the m
    * projection coordinates in component order — the shape the coarse
    * serving stage ([[pcaCoarseRefineSearch]]) scans. Same map-only
    * packed-literal plan; no generator, no shuffle. */
  def pcaProjectPacked(
      vecs: DataFrame,
      components: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      projRound: Int = 6): DataFrame = {
    val withComp =
      if (components.columns.contains("comp"))
        components.select(col("comp").cast("int"), col("pos"), col("pc"))
      else components.select(lit(0).as("comp"), col("pos"), col("pc"))
    val byComp = withComp.collect()
      .map(r => (r.getInt(0), r.getAs[Number](1).longValue(), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, rs) => c -> rs.sortBy(_._2).map(_._3) }
    require(byComp.nonEmpty, "pcaProject needs at least one fitted component")
    val projCols = byComp.map { case (_, v) =>
      round(graft.functions.VectorOps.dotHof(col(vecCol),
        array(v.map(lit(_)): _*)), projRound)
    }
    vecs.select(col(idCol), array(projCols: _*).as("parr"))
  }

  /** PCA-ROTATED two-stage serving — [[matryoshkaRefineSearch]]'s
    * LEARNED-rotation counterpart for embeddings without matryoshka
    * training: coarse-rank every row on its m fitted projection
    * coordinates (m/d of the multiply-adds, and m doubles vs d floats of
    * IO when the packed projections persist as an artifact beside the
    * cells — the byte economics of the SQ8 path via geometry instead of
    * quantization), then exact-re-score ONLY the `kCoarse` shortlist from
    * the full vectors. The projections concentrate variance by
    * construction, so a small m preserves the coarse ordering far better
    * than an arbitrary m-slice of raw coordinates. Exact at
    * `kCoarse >= corpus` (spec-pinned parity with [[knnExact]]); the
    * cell-pruned composition works exactly like [[ivfInt8RefineSearch]] —
    * both stages read the probed partitions. `queryDf` = 1-row `(qv)`. */
  def pcaCoarseRefineSearch(
      emb: DataFrame,
      components: DataFrame,
      queryDf: DataFrame,
      kCoarse: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      projRound: Int = 6,
      simRound: Int = 4,
      projections: Option[DataFrame] = None,
      restrictIds: Option[DataFrame] = None): DataFrame = {
    require(kCoarse >= k, s"kCoarse ($kCoarse) must be >= k ($k)")
    // production passes the PERSISTED packed projections (m doubles/row
    // read instead of d floats — the artifact's whole point); the inline
    // projection is the build-it-on-the-fly fallback and parity oracle
    val projs0 = projections.getOrElse(
      pcaProjectPacked(emb, components, idCol, vecCol, projRound))
    // candidate pushdown (the IDSelectorArray story the IVF paths carry):
    // the restriction semi-joins the m-double projection rows BEFORE the
    // coarse rank, so kCoarse counts ADMISSIBLE candidates — a tight
    // filter cannot starve the refine stage the way post-filtering would
    val projs = restrictIds.fold(projs0)(ids =>
      projs0.join(broadcast(ids.select(col(idCol))), Seq(idCol), "left_semi"))
    val qp = pcaProjectPacked(
      queryDf.select(lit(0L).as(idCol), col("qv").as(vecCol)),
      components, idCol, vecCol, projRound)
      .select(col("parr").as("qparr"))
    val coarse = GroupShaping.topK(
      projs.crossJoin(broadcast(qp))
        .select(col(idCol),
          round(graft.functions.VectorOps.dotHof(col("parr"), col("qparr")),
            projRound).as("cs")),
      kCoarse, col("cs"), col(idCol))
    GroupShaping.topK(
      emb.join(coarse.select(col(idCol)), Seq(idCol))
        .crossJoin(broadcast(queryDf))
        .select(col(idCol),
          round(graft.functions.VectorOps.dot(col(vecCol), col("qv")), simRound)
            .as("score")),
      k, col("score"), col(idCol))
  }

  /** Batch form of [[pcaCoarseRefineSearch]]: every query of a broadcast
    * `(query_id, qv)` batch coarse-ranks against the (persisted) packed
    * projections in ONE pass — each corpus row's m-dot is evaluated per
    * query, per-query kCoarse bounded through the
    * [[graft.functions.TopKAggregator]] BEFORE any shuffle — and the
    * exact refine joins only the union of shortlists back to the full
    * vectors. Same batch economics as [[ivfSearchBatchPruned]] /
    * [[ivfPqSearchBatchPruned]]. */
  def pcaCoarseRefineSearchBatch(
      emb: DataFrame,
      components: DataFrame,
      queries: DataFrame,
      kCoarse: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      projRound: Int = 6,
      simRound: Int = 4,
      projections: Option[DataFrame] = None): DataFrame = {
    require(kCoarse >= k, s"kCoarse ($kCoarse) must be >= k ($k)")
    val projs = projections.getOrElse(
      pcaProjectPacked(emb, components, idCol, vecCol, projRound))
    val qp = pcaProjectPacked(
      queries.select(col("query_id"), col("qv").as(vecCol)),
      components, "query_id", vecCol, projRound)
      .select(col("query_id"), col("parr").as("__qparr"))
    val coarse = topKPerQuery(
      projs.crossJoin(broadcast(qp))
        .select(col("query_id"), col(idCol),
          round(graft.functions.VectorOps.dotHof(col("parr"), col("__qparr")),
            projRound).as("cs")),
      kCoarse, idCol, "cs")
    topKPerQuery(
      emb.join(coarse.select(col("query_id"), col(idCol)), Seq(idCol))
        .join(broadcast(queries), Seq("query_id"))
        .select(col("query_id"), col(idCol),
          round(graft.functions.VectorOps.dot(col(vecCol), col("qv")), simRound)
            .as("sim")),
      k, idCol, "sim")
  }

  private def localizeDf(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** One power-iteration run over a Gram frame `(i, j, g)`: `iters`
    * rounds of matvec → norm → normalize with every intermediate rounded
    * to `coordRound`, then the Rayleigh quotient. Returns the unit
    * direction `(i, v)` and the 1-row `(eigval)` as localized frames.
    *
    * DRIVER-LOCAL KERNEL: the Gram is a d²-row corpus-independent
    * artifact, but the SQL iteration form still scheduled 2 Spark jobs
    * per round over the 589k-row LocalRelation at d=768 (~8 s/round —
    * the fit leg's dominant cost once [[gramMatrixRaw]] went primitive).
    * The loop below replicates the SQL ops bit for bit on collected
    * arrays — [[graft.functions.DecimalUnits]] reproduces the
    * `cast(… AS DECIMAL(28,12))` exact sums and `round(…, n)` double
    * semantics — so the trajectory is IDENTICAL to [[powerIterateSql]]
    * (PcaPowerParitySpec pins v and eigval to bit equality). */
  private[graft] def powerIterate(
      g: DataFrame, iters: Int, coordRound: Int): (DataFrame, DataFrame) = {
    val spark = g.sparkSession
    import spark.implicits._
    val rows = g.select(col("i").cast("int"), col("j").cast("int"),
      col("g").cast("double")).collect()
    // an empty Gram (empty/null-vector corpus) must surface as the actual
    // problem, not an opaque NPE
    require(rows.nonEmpty,
      "power iteration needs a non-empty Gram — fit on an empty or " +
        "all-null-vector corpus has no spectrum")
    val m = rows.length
    val iArr = new Array[Int](m); val jArr = new Array[Int](m)
    val gArr = new Array[Double](m)
    var r = 0
    while (r < m) {
      iArr(r) = rows(r).getInt(0); jArr(r) = rows(r).getInt(1)
      gArr(r) = if (rows(r).isNullAt(2)) Double.NaN else rows(r).getDouble(2)
      r += 1
    }
    val (present, v, eig) = powerIterateArrays(iArr, jArr, gArr, iters, coordRound)
    val vDf = localizeDf(spark,
      v.indices.filter(present).map(i => (i, v(i))).toDF("i", "v"))
    val rayDf = localizeDf(spark, Seq(eig).toDF("eigval"))
    (vDf, rayDf)
  }

  /** The array core of [[powerIterate]]: `iters` rounds of
    * matvec → norm → normalize over COO Gram triples, then the Rayleigh
    * quotient — every step the exact-decimal mirror of the SQL ops
    * (see [[powerIterateSql]]). Shared by the one-shot fit and the
    * deflating multi-component fit, which re-enters with the deflated
    * `gArr`. Returns (presence mask, unit direction, round-6 eigval). */
  private def powerIterateArrays(
      iArr: Array[Int], jArr: Array[Int], gArr: Array[Double],
      iters: Int, coordRound: Int): (Array[Boolean], Array[Double], Double) = {
    import graft.functions.DecimalUnits
    val m = iArr.length
    val d = iArr.max + 1
    val present = new Array[Boolean](d)
    iArr.foreach(present(_) = true)
    val v = new Array[Double](d)
    val v0 = DecimalUnits.roundDouble(1.0 / math.sqrt(d.toDouble), coordRound)
    var i = 0
    while (i < d) { if (present(i)) v(i) = v0; i += 1 }
    var r = 0
    for (_ <- 1 to iters) {
      // w ← round(Σⱼ dec12(g·vⱼ), cr), per i — the SQL groupBy("i") sum
      val acc = new DecimalUnits.AccArray(d)
      r = 0
      while (r < m) { acc.addProduct(iArr(r), gArr(r) * v(jArr(r))); r += 1 }
      val w = new Array[Double](d)
      val nAcc = new DecimalUnits.AccArray(1)
      i = 0
      while (i < d) {
        if (present(i)) {
          w(i) = DecimalUnits.roundDouble(acc.result(i).doubleValue(), coordRound)
          nAcc.addProduct(0, w(i) * w(i))
        }
        i += 1
      }
      val nrm = DecimalUnits.roundDouble(
        math.sqrt(nAcc.result(0).doubleValue()), coordRound)
      i = 0
      while (i < d) {
        if (present(i)) v(i) = DecimalUnits.roundDouble(w(i) / nrm, coordRound)
        i += 1
      }
    }
    // Rayleigh quotient: round₆(Σ dec12((g·vᵢ)·vⱼ)) — same left-assoc
    // multiply order as the SQL expression
    val rAcc = new DecimalUnits.AccArray(1)
    r = 0
    while (r < m) {
      rAcc.addProduct(0, gArr(r) * v(iArr(r)) * v(jArr(r)))
      r += 1
    }
    (present, v, DecimalUnits.roundDouble(rAcc.result(0).doubleValue(), 6))
  }

  /** The DECLARATIVE Spark-expression form of [[powerIterate]] — kept as
    * the driver-local loop's bit-parity oracle (PcaPowerParitySpec), the
    * same keep-the-SQL-twin discipline as [[gramMatrixRawExplode]] /
    * the chunked cell assignment. */
  private[graft] def powerIterateSql(
      g0: DataFrame, iters: Int, coordRound: Int): (DataFrame, DataFrame) = {
    val spark = g0.sparkSession
    val g = localizeDf(spark, g0)
    val maxI = g.agg(max(col("i"))).head()
    require(!maxI.isNullAt(0),
      "power iteration needs a non-empty Gram — fit on an empty or " +
        "all-null-vector corpus has no spectrum")
    val d = maxI.getInt(0) + 1
    var v = localizeDf(spark, g.select(col("i")).distinct()
      .select(col("i"), round(lit(1.0) / sqrt(lit(d.toDouble)), coordRound).as("v")))
    for (_ <- 1 to iters) {
      val w = g
        .join(v.select(col("i").as("j"), col("v").as("__vj")), Seq("j"))
        .groupBy(col("i"))
        .agg(round(sum((col("g") * col("__vj")).cast("decimal(28,12)"))
          .cast("double"), coordRound).as("w"))
      val nrm = w.agg(round(sqrt(sum((col("w") * col("w"))
        .cast("decimal(28,12)")).cast("double")), coordRound).as("nrm"))
      v = localizeDf(spark, w.crossJoin(broadcast(nrm))
        .select(col("i"), round(col("w") / col("nrm"), coordRound).as("v")))
    }
    val ray = localizeDf(spark, g
      .join(v.select(col("i"), col("v").as("__vi")), Seq("i"))
      .join(v.select(col("i").as("j"), col("v").as("__vj")), Seq("j"))
      .agg(round(sum((col("g") * col("__vi") * col("__vj"))
        .cast("decimal(28,12)")).cast("double"), 6).as("eigval")))
    (v, ray)
  }

  /** Driver-side cell probe: the `nprobe` best cells for one query vector,
    * as LITERAL cluster ids. Ranks the (tiny — k rows) centroid artifact
    * against the broadcast query and collects the winners, so the caller
    * can filter a cell-PARTITIONED corpus with `col(cluster).isin(...)` —
    * a literal partition predicate the scan turns into `PartitionFilters`
    * directory pruning (a semi join would still enumerate every cell's
    * files). This mirrors FAISS IVF serving exactly: the coarse quantizer
    * runs on the query (driver-scale work), only the probed inverted lists
    * are opened. Ties break to the lower cluster id. Serving ranks
    * through the driver-cached [[probe]] instead; this one-job form is the
    * reference its cache is pinned against (ProbeCacheSpec,
    * CoarseHierarchySpec). */
  def probeCells(
      centroids: DataFrame,
      queryDf: DataFrame,
      nprobe: Int,
      clusterCol: String = "cluster"): Seq[Int] =
    centroids.crossJoin(broadcast(queryDf))
      .select(col(clusterCol),
        round(VectorOps.dot(col("cv"), col("qv")), 6).as("cscore"))
      .orderBy(col("cscore").desc, col(clusterCol).asc)
      .limit(nprobe)
      .collect().map(_.getInt(0)).toSeq

  /** Driver-CACHED coarse probe (the r14 serving lever BASELINE.md's
    * concurrency finding named: at 8 concurrent clients the executor
    * saturates on DRIVER work — planning and per-request jobs — not scan
    * capacity). [[probeCells]] launches a Spark job per request (centroid
    * parquet scan + cross join + collect of nlist rows); this collects
    * the centroid table ONCE — nlist x d floats, the same driver-scale
    * bound probeCells' own collect already implies (~12 MB at 4000 x 768)
    * — and ranks cells IN-PROCESS with zero jobs per request.
    *
    * Exact-parity contract with [[probeCells]] (ProbeCacheSpec pins it on
    * adversarial data): the same sequential-ascending double-accumulation
    * dot over min(length) as `DotProductF`, the same SQL `round(_, 6)`
    * HALF_UP decimal rounding, descending rounded score with ties to the
    * LOWER cluster id, and null-vector centroids sorting LAST (Spark's
    * NULLS LAST under a desc sort) in ascending id order — so even a
    * probe deep enough to reach degenerate rows returns the identical
    * list; a null query scores every centroid null, which ranks them all
    * in id order. Build one per PERSISTED centroid artifact: a
    * retrain-and-swap version publish produces a new centroid DataFrame
    * and must produce a new cache ([[probe]] keys its caches by the
    * DataFrame reference). `vecCol` names the vector column, so the same
    * class ranks a hierarchy's `(gid, gv)` level-1 table. */
  final class CentroidCache(
      centroids: DataFrame, clusterCol: String = "cluster", vecCol: String = "cv") {
    private val (scoredRows, nullRows): (Array[(Int, Array[Float])], Array[Int]) = {
      val all = centroids.select(col(clusterCol).cast("int"), col(vecCol)).collect()
      val (nn, nv) = all.partition(!_.isNullAt(1))
      (nn.map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).sortBy(_._1),
        nv.map(_.getInt(0)).sorted)
    }

    /** Row count of the ranked table: the cell count of a flat centroid
      * table, the group count of a level-1 table. */
    def nlist: Int = scoredRows.length + nullRows.length

    def probe(qv: Array[Float], nprobe: Int): Seq[Int] =
      if (qv == null) (scoredRows.map(_._1) ++ nullRows).sorted.take(nprobe).toSeq
      else {
        val scored = scoredRows.map { case (id, cv) =>
          val n = math.min(cv.length, qv.length)
          var s = 0.0
          var i = 0
          while (i < n) { s += cv(i).toDouble * qv(i).toDouble; i += 1 }
          (id, java.math.BigDecimal.valueOf(s)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
        }
        // (cscore desc, cluster asc); input is id-ascending and sortBy is
        // stable, so negating the score alone reproduces the tie order
        // (scores are finite rounded decimals — TotalOrdering is safe)
        val ranked =
          scored.sortBy(-_._2)(Ordering.Double.TotalOrdering).map(_._1) ++ nullRows
        ranked.take(nprobe).toSeq
      }
  }

  /** The coarse quantizer of one index as the driver holds it: the
    * [[CentroidCache]] of its flat centroid table, or of a hierarchy's
    * level-1 table. `nlist` is the index's cell count — the top table's
    * rows when flat, one count of the `l2` store at first use when not. */
  private[graft] final class Quantizer(
      val top: CentroidCache, val idCol: String, l2: Option[DataFrame]) {
    lazy val nlist: Int = l2.fold(top.nlist)(_.count().toInt)
  }

  /** Every [[Quantizer]], keyed by the REFERENCE of the table it ranks
    * (the flat centroids, or a hierarchy's `l1`). A retrain-and-swap
    * publish hands out new DataFrames, so a stale cache cannot survive a
    * version swap; weak keys drop a cache with its index. */
  private val quantizers =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, Quantizer])

  /** The cached [[Quantizer]] of an index, built on first use. Get, then
    * build, then `putIfAbsent` rather than `computeIfAbsent`: the build
    * runs a Spark collect, and `computeIfAbsent` on the synchronized map
    * would hold its one mutex for that whole job, so concurrent first
    * requests against DIFFERENT indexes would queue behind one collect. A
    * duplicate build is benign (both caches are equal; one wins). A
    * table probed under a second id column gets an uncached quantizer. */
  private[graft] def quantizer(
      centroids: DataFrame,
      hierarchy: Option[(DataFrame, DataFrame)],
      clusterCol: String = "cluster"): Quantizer = {
    val (table, idCol) = hierarchy.fold((centroids, clusterCol))(h => (h._1, "gid"))
    val cached = quantizers.get(table)
    if (cached != null && cached.idCol == idCol) cached
    else {
      val built = hierarchy match {
        case Some((l1, l2)) => new Quantizer(new CentroidCache(l1, "gid", "gv"), "gid", Some(l2))
        case None => new Quantizer(new CentroidCache(centroids, clusterCol), clusterCol, None)
      }
      val prev = quantizers.putIfAbsent(table, built)
      if (prev != null && prev.idCol == idCol) prev else built
    }
  }

  /** The one coarse probe every pruned serving path, calibration and the
    * facade run: for each `(query_id, qv)` query, its `nprobe` best cells,
    * best first. The flat centroid table, or a hierarchy's level-1 table,
    * is ranked IN PROCESS through the driver-cached [[Quantizer]] (zero
    * Spark jobs once warm; exact [[probeCells]] parity, ProbeCacheSpec).
    * With a `hierarchy` the `nprobeL1` best groups open, and only the
    * level-2 stage is a Spark ranking of those groups' centroids
    * ([[probeCellsL2]] for one query, [[rankCellsL2]] for a batch).
    * `nprobeL1` defaults to full level-1 probe, which reproduces the flat
    * probe bit-for-bit, so a caller without a calibrated pair loses no
    * recall. A null `qv` ranks as [[probeCells]] ranks it. */
  private[graft] def probe(
      centroids: DataFrame,
      hierarchy: Option[(DataFrame, DataFrame)],
      queries: Seq[(Long, Array[Float])],
      nprobeL1: Option[Int],
      nprobe: Int,
      clusterCol: String = "cluster"): Seq[(Long, Seq[Int])] = {
    val top = quantizer(centroids, hierarchy, clusterCol).top
    def rankTop(depth: Int) = queries.map { case (q, qv) => q -> top.probe(qv, depth) }
    hierarchy match {
      case None => rankTop(nprobe)
      case Some((_, l2)) =>
        val opened = rankTop(nprobeL1.getOrElse(top.nlist))
        val spark = l2.sparkSession
        import spark.implicits._
        lazy val qDf = queries.toDF("query_id", "qv")
        opened match {
          case Seq() => Nil
          case Seq((q, gids)) => Seq(q -> probeCellsL2(l2, gids, qDf, nprobe, clusterCol))
          case _ =>
            val ranked = rankCellsL2(l2, opened, qDf, Some(nprobe), clusterCol)
            opened.map { case (q, _) => q -> ranked.getOrElse(q, Nil) }
        }
    }
  }

  /** The query of a single-query frame (`qv`) as [[probe]] takes it: no
    * query for a zero-row frame (which serves an empty result), and a
    * null vector kept as null. A frame of two or more rows is a batch:
    * it is refused by name rather than ranked as one query. */
  private[graft] def singleQuery(queryDf: DataFrame): Seq[(Long, Array[Float])] = {
    val rows = queryDf.select(col("qv")).limit(2).collect()
    require(rows.length <= 1,
      "a single-query frame holds at most one qv row; serve more through the batch form")
    rows.toSeq.map(r => 0L -> vectorAt(r, 0))
  }

  /** The `(query_id, qv)` rows of a batch frame as [[probe]] takes them. */
  private[graft] def batchQueries(queries: DataFrame): Seq[(Long, Array[Float])] =
    queries.select(col("query_id").cast("long"), col("qv")).collect().toSeq
      .map(r => r.getLong(0) -> vectorAt(r, 1))

  private def vectorAt(r: org.apache.spark.sql.Row, i: Int): Array[Float] =
    if (r.isNullAt(i)) null else r.getSeq[Float](i).toArray

  /** TWO-LEVEL coarse quantizer BUILD (the FAISS IMI analog; VERDICT r14
    * #3): [[probeCells]]/[[CentroidCache]] collect the full nlist ~ 4*sqrt(N)
    * centroid table driver-side — ~126k rows at N=10^9 (fine), ~4 GB at
    * N=10^11 (not). This bounds the driver at sqrt(nlist): cluster the
    * CENTROIDS themselves into `groups` (default ceil(sqrt(nlist)))
    * level-1 groups with the same [[kmeansFit]], persist
    *   - `l1`: (gid, gv) — sqrt(nlist) rows, the only table the driver
    *     ever holds (2k rows at nlist = 4M, i.e. N = 10^12), and
    *   - `l2`: the centroid table tagged with its group, PARTITIONED BY
    *     gid — so the level-2 ranking is a PartitionFilters-pruned scan
    *     of ~nprobeL1/groups of the centroids, never a driver collect.
    * Serving probes it through [[probe]]. At full level-1 probe
    * (nprobeL1 >= groups) the two-level probe is EXACTLY [[probeCells]]
    * (same rounding, same tiebreaks — CoarseHierarchySpec pins it); at
    * partial probe it trades centroid coverage for a bounded driver,
    * exactly the IMI trade. Build-once per centroid artifact; rebuild
    * alongside the centroids on retrain. */
  def buildCoarseHierarchy(
      centroids: DataFrame,
      outDir: String,
      groups: Int = 0,
      lloydIters: Int = 4,
      clusterCol: String = "cluster"): (DataFrame, DataFrame) = {
    val spark = centroids.sparkSession
    val nlist = centroids.count()
    val g =
      if (groups > 0) groups
      else math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    // rename before the fit: kmeansFit emits its own `cluster` column,
    // which would collide with the centroid table's id of the same name
    val l1Fit = kmeansFit(
      centroids.select(col(clusterCol).as("__cid"), col("cv").as("__cv")),
      g, lloydIters, idCol = "__cid", vecCol = "__cv", salt = "coarse2")
    val l1Rows = l1Fit.select(col("cluster").as("gid"), col("cv").as("gv"))
    Store.writeSingle(l1Rows, s"$outDir/l1")
    l1Fit.unpersist()
    val l1 = Store.read(spark, s"$outDir/l1", Some(l1Rows.schema))
    // tag every level-2 centroid with its nearest group — the same
    // map-only broadcast argmax as the corpus assign, at nlist scale
    val tagged = assignCells(centroids,
      l1.select(col("gid"), col("gv").as("cv")),
      vecCol = "cv", clusterCol = "gid")
    Store.writePartitioned(tagged, s"$outDir/l2", "gid")
    (l1, Store.read(spark, s"$outDir/l2", Some(tagged.schema)))
  }

  /** IMI-style TWO-LEVEL corpus assignment (the build/maintenance twin of
    * the two-level [[probe]], VERDICT r16 #3): each row goes to its nearest
    * LEVEL-1 group ([[assignCellsBulk]] over the sqrt(nlist)-row `l1`
    * table), then to the argmax centroid WITHIN that group's `l2` members
    * — the assignment a FAISS IMI quantizer performs by construction. At
    * nlist=k this is ~2·N·√k dot products instead of the flat argmax's
    * N·k (measured ~25x cheaper at k≈10⁵ — BigNlistProbe, BASELINE.md
    * r16), at the price of the IMI approximation: a row whose true
    * nearest centroid lives in a non-nearest group lands one cell off.
    * Build-time calibration measures recall over the LANDED cells, so the
    * approximation is priced into the persisted (nprobeL1, nprobe) pair,
    * never hidden.
    *
    * Contract mirrors [[assignCells]] per stage: round-`simRound` HALF_UP
    * dots, ties to the LOWER id at both levels, null vector → NULL cell.
    * Groups that own no level-2 centroids are excluded from the level-1
    * ranking (a row can never be sent to an empty group). Cost honesty:
    * what shrinks is the COMPUTE (2·√k dots/row instead of k) and the
    * DRIVER-resident stage (the √k-row l1 matrix in the bulk kernel);
    * the grouped l2 table still ships once per executor as a broadcast
    * (nlist·d floats — the same volume any flat assign must get to the
    * workers, ~260 MB at k=84k·d=768; past ~10⁶ centroids swap the
    * broadcast for a shuffle join on `__gid`). */
  def assignCellsHierarchical(
      emb: DataFrame,
      l1: DataFrame,
      l2: DataFrame,
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      simRound: Int = 6): DataFrame = {
    val keep = emb.columns.map(col)
    val grouped = l2.groupBy(col("gid").as("__gid"))
      .agg(array_sort(collect_list(
        struct(col(clusterCol).cast("int").as("c"), col("cv")))).as("__cents"))
    // only non-empty groups rank at level 1 (grouped is keyed by the gids
    // that own centroids, so the semi-join is a projection of it)
    val servableL1 = l1.join(
      grouped.select(col("__gid").as("gid")), Seq("gid"), "left_semi")
    val byGid = assignCellsBulk(emb,
      servableL1.select(col("gid").as("__gid"), col("gv").as("cv")),
      vecCol = vecCol, clusterCol = "__gid", simRound = simRound)
    val best = array_max(transform(col("__cents"), c =>
      struct(
        round(VectorOps.dot(col(vecCol), c.getField("cv")), simRound).as("sim"),
        (lit(0) - c.getField("c")).as("negc"))))
    byGid.join(broadcast(grouped), Seq("__gid"), "left")
      .withColumn("__best", best)
      .select(keep :+ when(col(vecCol).isNull || col("__best").isNull,
          lit(null).cast("int"))
        .otherwise(lit(0) - col("__best.negc")).as(clusterCol): _*)
  }

  /** The LEVEL-2 stage of the two-level probe for one query — rank the
    * opened groups' centroids (a gid-partition-pruned scan of the `l2`
    * store) and return the `nprobe` best cell ids. Level 1 is ranked in
    * process by [[probe]]; both stages use the identical rounded-dot
    * ordering (round 6, desc, ties to the lower id, nulls last), so full
    * level-1 probe reproduces [[probeCells]] bit-for-bit. */
  def probeCellsL2(
      l2: DataFrame,
      gids: Seq[Int],
      queryDf: DataFrame,
      nprobe: Int,
      clusterCol: String = "cluster"): Seq[Int] =
    l2.filter(col("gid").isin(gids: _*))
      .crossJoin(broadcast(queryDf))
      .select(col(clusterCol),
        round(VectorOps.dot(col("cv"), col("qv")), 6).as("cscore"))
      .orderBy(col("cscore").desc, col(clusterCol).asc)
      .limit(nprobe)
      .collect().map(_.getInt(0)).toSeq

  /** The LEVEL-2 stage for a batch: ONE partition-pruned scan of the
    * union of the opened groups' centroids, each ranked per query over
    * that query's own opened groups, with [[probeCellsL2]]'s ordering.
    * Per query, the `depth` best cells best first (every opened cell when
    * `depth` is None — the full ranking whose prefixes are every nprobe's
    * probe list). `queries` is a small `(query_id LONG, qv)` frame. */
  private def rankCellsL2(
      l2: DataFrame,
      opened: Seq[(Long, Seq[Int])],
      queries: DataFrame,
      depth: Option[Int],
      clusterCol: String): Map[Long, Seq[Int]] = {
    val spark = l2.sparkSession
    import spark.implicits._
    val pairs = opened.flatMap { case (q, gids) => gids.map(q -> _) }
    val byQuery = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cscore").desc, col(clusterCol).asc)
    val ranked = l2.filter(col("gid").isin(pairs.map(_._2).distinct: _*))
      .join(broadcast(pairs.toDF("query_id", "gid")), Seq("gid"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col(clusterCol),
        round(VectorOps.dot(col("cv"), col("qv")), 6).as("cscore"))
      .withColumn("__rn", row_number().over(byQuery))
    depth.fold(ranked)(d => ranked.filter(col("__rn") <= d))
      .select(col("query_id"), col(clusterCol), col("__rn"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
  }

  /** JOINT (nprobeL1, nprobe) calibration (VERDICT r16 #7): the two
    * knobs TRADE OFF — opening more L1 groups widens the candidate
    * centroid pool while probing more cells deepens the corpus scan —
    * and the measured surface has non-monotone cross terms (RECALL.md
    * r16: 0.885@16/64 vs 0.870@32/64), so calibrating nprobe flat first
    * and nprobeL1 second can land a costlier pair than the target needs.
    * This sweeps the exponential nprobeL1
    * ladder 1, 2, 4, ..., groups; AT A FIXED rung recall is monotone in
    * nprobe (the opened-group set is fixed, so probing more cells scans
    * a superset) and the minimum feasible nprobe is found exactly. Among
    * feasible rungs the pair minimizing SERVING COST wins — cost = L2
    * centroids opened + corpus rows scanned = npL1·(nlist/groups) +
    * np·(nRows/nlist), both d-dim dot streams so the sum is the probe's
    * total dot count up to the shared constant. Reachable by
    * construction: the npL1 = groups rung IS the flat probe (bit-parity
    * contract), where any target the flat calibration could meet is met.
    *
    * COST DISCIPLINE (VERDICT r17 #5 — the r17 form re-ran a
    * sample-sized serving search per (rung, nprobe) evaluation, ~1,200 s
    * build-once at 1M rows and super-linear pressure at 10M): the sweep
    * now runs O(1) Spark jobs per rung and resolves the ENTIRE per-rung
    * nprobe search driver-side. Per rung: ONE job ranks the opened
    * groups' cells per query (the probe's L2 stage at full depth — its
    * prefixes are every nprobe's probe list) and ONE corpus scan
    * collects just the rows that can decide recall: a truth id t is in
    * the served top-k at nprobe=np iff its cell ranks <= np and fewer
    * than k rows ordered above it — (sim desc, id asc) on the rounded
    * serving score — sit in cells ranked <= np; every such row scores at
    * or above t, hence at or above the query's k-th exact score, so
    * collecting rows with `sim >= that threshold` (a request-bounded
    * set) makes recall at ANY np pure driver arithmetic, bit-identical
    * to the two-level [[ivfSearchBatchPruned]] result. The full-L1
    * ranking is computed once for the whole sweep (it is rung-independent).
    * Total: ~2 full-corpus-equivalent scans across the ladder instead
    * of O(log groups · log nlist) serving runs. */
  def calibrateNprobePair(
      cells: DataFrame,
      l1: DataFrame,
      l2: DataFrame,
      queries: DataFrame,
      k: Int,
      targetRecall: Double,
      nRows: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      truth: Option[Map[Long, Set[Long]]] = None): (Int, Int) = {
    require(targetRecall > 0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    val exact = truth.getOrElse(
      calibrationTruth(cells, queries, k, idCol, vecCol))
    require(exact.nonEmpty, "calibration query sample is empty")
    val spark = cells.sparkSession
    import spark.implicits._
    // the serving probe's quantizer (the flat-table argument is unused
    // when a hierarchy is given)
    val quant = quantizer(l1, Some((l1, l2)), clusterCol)
    val groups = math.max(1, quant.top.nlist)
    val nlist = math.max(1, quant.nlist)

    // ---- rung-independent artifacts (one job each) -------------------
    // full per-query L1 group ranking, in process — every rung's opened
    // set is a prefix of it
    val l1Ranked: Seq[(Long, Seq[Int])] =
      batchQueries(queries).map { case (q, qv) => q -> quant.top.probe(qv, groups) }
    // per-query admission threshold: the minimum ROUNDED serving score
    // over the query's exact top-k — every row that can displace a truth
    // id from any served top-k scores at or above it
    val truthIdSeq = exact.values.flatten.toSeq.distinct
    val truthScored = cells.filter(col(idCol).isin(truthIdSeq: _*))
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col(idCol).cast("long").as("__id"),
        round(VectorOps.dot(col(vecCol), col("qv")), 4).as("__sim"))
      .filter(col("__sim").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val thr: Map[Long, Double] = truthScored
      .filter { case (q, id, _) => exact.getOrElse(q, Set.empty).contains(id) }
      .groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val thrDf = broadcast(
      thr.toSeq.toDF("query_id", "__thr"))
    val l2Map = broadcast(l2.select(col(clusterCol), col("gid")))
    // gid -> cells lookup for per-rung partition pruning (nlist rows, once)
    val gidCells: Map[Int, Seq[Int]] =
      l2.select(col("gid"), col(clusterCol)).collect()
        .map(r => (r.getInt(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

    // ---- per-rung: one cell-ranking job + one thresholded corpus scan,
    // then the whole nprobe search in driver arithmetic
    def minNp(npL1: Int): Option[Int] = {
      val opened = l1Ranked.map { case (q, gids) => q -> gids.take(npL1) }
      val openedPairs = opened.flatMap { case (q, gids) => gids.map(q -> _) }
      val qgDf = broadcast(openedPairs.toDF("query_id", "gid"))
      // per-query ranking of the opened groups' cells at full depth (the
      // probe list at any nprobe is its prefix) — the serving L2 stage
      val cellRank: Map[(Long, Int), Int] =
        rankCellsL2(l2, opened, queries, None, clusterCol).toSeq.flatMap { case (q, cells) =>
          cells.zipWithIndex.map { case (c, i) => (q, c) -> (i + 1) }
        }.toMap
      // decisive rows: opened-group cells, scored per opening query on
      // the serving rounding, admitted at or above the query's threshold.
      // The scan partition-prunes to the opened groups' cells (the same
      // literal `IN` every pruned serving path pushes), so a small rung
      // reads a small fraction of the store.
      val gidUnion = openedPairs.map(_._2).distinct
      val cellUnion = gidUnion.flatMap(g => gidCells.getOrElse(g, Nil))
      val prunedCells =
        if (cellUnion.size < nlist) cells.filter(col(clusterCol).isin(cellUnion: _*))
        else cells
      val cand: Map[Long, Array[(Double, Long, Int)]] =
        prunedCells.join(l2Map, Seq(clusterCol))
          .join(qgDf, Seq("gid"))
          .join(broadcast(queries), Seq("query_id"))
          .select(col("query_id"), col(idCol).cast("long").as("__id"),
            round(VectorOps.dot(col(vecCol), col("qv")), 4).as("__sim"),
            col(clusterCol))
          .join(thrDf, Seq("query_id"))
          .filter(col("__sim").isNotNull && col("__sim") >= col("__thr"))
          .collect()
          .map(r => (r.getLong(0), (r.getDouble(2), r.getLong(1), r.getInt(3))))
          .groupBy(_._1).view.mapValues(_.map(_._2)
            // the serving order: sim desc, id asc
            .sortBy { case (s, id, _) => (-s, id) }).toMap
          .view.mapValues(_.toArray).toMap
      def recallAt(np: Int): Double =
        exact.map { case (q, truthIds) =>
          val rows = cand.getOrElse(q, Array.empty)
          var kept = 0
          var hits = 0
          var i = 0
          while (i < rows.length && kept < k) {
            val cl = rows(i)._3
            if (cellRank.getOrElse((q, cl), Int.MaxValue) <= np) {
              if (truthIds.contains(rows(i)._2)) hits += 1
              kept += 1
            }
            i += 1
          }
          hits.toDouble / truthIds.size
        }.sum / exact.size
      if (recallAt(nlist) < targetRecall) None
      else {
        var lo = 1
        var hi = 1
        while (hi < nlist && recallAt(hi) < targetRecall) {
          lo = hi + 1
          hi = math.min(nlist, hi * 2)
        }
        while (lo < hi) {
          val mid = (lo + hi) / 2
          if (recallAt(mid) >= targetRecall) hi = mid else lo = mid + 1
        }
        Some(lo)
      }
    }
    val ladder = (Iterator.iterate(1)(_ * 2).takeWhile(_ < groups) ++
      Iterator.single(groups)).toSeq
    def cost(pair: (Int, Int)): Double =
      pair._1.toDouble * nlist / groups + pair._2.toDouble * nRows / nlist
    val feasible = ladder.flatMap(npL1 => minNp(npL1).map(np => (npL1, np)))
    // groups rung == flat probe, and full probe there is exact — the set
    // can only be empty if the target itself is unreachable at this k
    require(feasible.nonEmpty,
      f"no (nprobeL1, nprobe) pair meets recall@$k >= $targetRecall%.3f")
    feasible.minBy(cost)
  }

  /** Candidate-set restriction pushed INTO an index search — the engine's
    * form of the reference's `IDSelectorArray` (every reference endpoint
    * assembles per-request id filters and FAISS applies them inside the
    * probe, reference `utils/faiss_processing.py:154-166`, `app.py:313-328`).
    * Applied AFTER partition pruning: the allow/deny sets are broadcast
    * semi/anti joins ([[Candidates.restrictTo]]/[[Candidates.exclude]]) over
    * the probed cells' rows only, so they never widen the scan — the plan
    * keeps its literal `PartitionFilters` AND the id filters, and cost stays
    * nprobe/k of the corpus intersected with the candidate set. */
  private def applyCandidateFilters(
      df: DataFrame,
      idCol: String,
      restrictIds: Option[DataFrame],
      excludeIds: Option[DataFrame]): DataFrame = {
    val r = restrictIds.fold(df)(ids => Candidates.restrictTo(df, ids, idCol))
    excludeIds.fold(r)(ids => Candidates.exclude(r, ids, idCol))
  }

  /** A family's coarse score, defined once for both query shapes — the
    * stage FAISS's `IndexRefineFlat` puts in front of its exact re-rank.
    *  - `store`: the cell-partitioned frame the stage scans, with the id
    *    and cell columns.
    *  - `query`: the query side, derived from the `(qv)` or
    *    `(query_id, qv)` frame; it must keep `query_id` when present.
    *  - `score`: one row's score as a double, higher ranks first. It is
    *    integer-valued or rounded, so the shortlist boundary is
    *    engine-portable.
    *  - `lookup`: equi-join keys into the query side (PQ ADC's
    *    `(m, code)`). With keys, a row meets one query-side entry per key
    *    and scores the exact decimal sum of `score` over them, rounded
    *    at 6. */
  private final case class Codec(
      store: DataFrame,
      query: DataFrame => DataFrame,
      score: Column,
      lookup: Seq[String] = Nil)

  /** The exact stage: the rounded inner product over the float cells. */
  private def exactCodec(cells: DataFrame, vecCol: String, roundTo: Int): Codec =
    Codec(cells, identity, round(VectorOps.dot(col(vecCol), col("qv")), roundTo))

  /** What an IVF request scores once its cells are probed: an optional
    * coarse stage that shortlists `kCoarse` rows per query, then the
    * `last` stage's top-`k`, over the shortlist when there is one.
    * `admit` filters the first stage's pruned rows (candidate sets, an
    * attribute predicate), so a shortlist holds only admissible ids.
    * `scoreName` names the output score column. Invalid sizes fail here,
    * before any probe job runs. */
  private final case class ServePlan(
      coarse: Option[(Codec, Int)],
      last: Codec,
      k: Int,
      idCol: String,
      clusterCol: String,
      admit: DataFrame => DataFrame = identity,
      scoreName: String = "score") {
    require(k > 0, s"k must be positive, got $k")
    coarse.foreach { case (_, kCoarse) =>
      require(kCoarse >= k, s"coarse shortlist kCoarse=$kCoarse must cover final k=$k")
    }
  }

  /** The IVF serving core: probe → prune to the probed cells → optional
    * coarse shortlist → top-k, written once per query shape. Every pruned
    * and refine serving form below is one call into it. A single query is
    * a batch of one, as in FAISS's `index.search(x, k)`; the two shapes
    * differ in exactly four places:
    *  - the query side of [[probe]]: [[singleQuery]] vs [[batchQueries]]
    *    (flat centroids, or the two-level `hierarchy`);
    *  - meeting the query: a single query reaches the probed cells' rows
    *    as literal columns when it is a local frame, through a broadcast
    *    cross join otherwise ([[scoreRows]]); a batch joins them on the probed
    *    `(query_id, cell)` pairs and then on `query_id`, so each row is
    *    scored only for the queries probing its cell;
    *  - shortlist hand-off: a left-semi join on the id vs a join on the
    *    `(query_id, id)` shortlist;
    *  - top-k: `orderBy` + `limit` (TakeOrderedAndProject, ties to the
    *    lower id) vs the bounded [[topKPerQuery]] aggregator.
    * Each stage scans its store pruned by a literal `IN` on the probed
    * cells (the batch's union of them), so every scan keeps directory
    * `PartitionFilters`. */
  private def ivfServe(
      queries: DataFrame,
      batch: Boolean,
      centroids: DataFrame,
      hierarchy: Option[(DataFrame, DataFrame)],
      nprobeL1: Option[Int],
      nprobe: Int,
      plan: ServePlan): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    require(nprobeL1.forall(_ > 0), s"nprobeL1 must be positive, got ${nprobeL1.getOrElse(0)}")
    val probed = probe(centroids, hierarchy,
      if (batch) batchQueries(queries) else singleQuery(queries),
      nprobeL1, nprobe, plan.clusterCol)
    if (batch) serveBatch(queries, probed, plan)
    else serveOne(queries, probed.flatMap(_._2), plan)
  }

  /** The single-query tail of [[ivfServe]] over a probed cell list. */
  private def serveOne(queryDf: DataFrame, probed: Seq[Int], plan: ServePlan): DataFrame = {
    import plan._
    def scan(c: Codec) = c.store.filter(col(clusterCol).isin(probed: _*))
    def top(c: Codec, rows: DataFrame, n: Int) =
      scoreRows(c, rows, queryDf, Nil, Seq(idCol), scoreName)
        .orderBy(col(scoreName).desc, col(idCol).asc)
        .limit(n)
    coarse match {
      case None => top(last, admit(scan(last)), k)
      case Some((c, kCoarse)) =>
        val shortlist = top(c, admit(scan(c)), kCoarse).select(col(idCol))
        top(last, scan(last).join(broadcast(shortlist), Seq(idCol), "left_semi"), k)
    }
  }

  /** The batch tail of [[ivfServe]] over each query's probed cells;
    * `queries` is a small `(query_id LONG, qv)` frame. */
  private def serveBatch(
      queries: DataFrame, probed: Seq[(Long, Seq[Int])], plan: ServePlan): DataFrame = {
    import plan._
    val spark = queries.sparkSession
    import spark.implicits._
    val pairs = probed.flatMap { case (q, cells) => cells.map(q -> _) }
    val probedDf = broadcast(pairs.toDF("query_id", clusterCol))
    val cellUnion = pairs.map(_._2).distinct
    def scan(c: Codec) = c.store.filter(col(clusterCol).isin(cellUnion: _*))
    def top(c: Codec, rows: DataFrame, n: Int) = topKPerQuery(
      scoreRows(c, rows, queries, Seq("query_id"), Seq("query_id", idCol), scoreName),
      n, idCol, scoreName)
    coarse match {
      case None => top(last, admit(scan(last)).join(probedDf, Seq(clusterCol)), k)
      case Some((c, kCoarse)) =>
        val shortlist = top(c, admit(scan(c)).join(probedDf, Seq(clusterCol)), kCoarse)
          .select(col("query_id"), col(idCol))
        top(last, scan(last).join(broadcast(shortlist), Seq(idCol)), k)
    }
  }

  /** Scores `rows` with codec `c` against the query side, broadcast and
    * joined on `on` plus the codec's lookup keys. With no keys, a query
    * side that is one driver-local row (a single query given as a local
    * frame) is inlined as literal columns, which saves the broadcast job;
    * any other side is met through a broadcast cross join. The output is
    * the `by` columns and the score as `name`. */
  private def scoreRows(
      c: Codec, rows: DataFrame, queries: DataFrame,
      on: Seq[String], by: Seq[String], name: String): DataFrame = {
    val side = c.query(queries)
    val keys = on ++ c.lookup
    val met =
      if (keys.nonEmpty) rows.join(broadcast(side), keys)
      else localRow(side).fold(rows.crossJoin(broadcast(side)))(rows.withColumns)
    if (c.lookup.isEmpty) met.select(by.map(col) :+ c.score.as(name): _*)
    else met.groupBy(by.map(col): _*)
      .agg(round(sum(c.score.cast("decimal(18,12)")).cast("double"), 6).as(name))
  }

  /** The columns of a frame whose optimized plan is a one-row local
    * relation, as literals; None for any other frame. */
  private def localRow(df: DataFrame): Option[Map[String, Column]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if l.data.sizeIs == 1 =>
        val row = l.data.head.copy()
        Some(l.output.zipWithIndex.map { case (a, i) =>
          a.name -> ColumnShim.column(Literal(row.get(i, a.dataType), a.dataType))
        }.toMap)
      case _ => None
    }

  /** IVF serving against a cell-PARTITIONED corpus table (the persisted
    * [[assignCells]] output): probe driver-side ([[probe]]: flat, or
    * two-level when a `hierarchy` is given), prune
    * the scan to the probed cells' partitions with a literal `IN`,
    * exact-rescore only those rows. The serving-time plan touches
    * ~nprobe/k of the data and NEVER trains — centroids come from the
    * fitted artifact ([[kmeansFit]] at build time). `restrictIds`/
    * `excludeIds` push a per-request candidate filter into the pruned scan
    * ([[applyCandidateFilters]] — the `IDSelectorArray` analog). The k
    * boundary ranks on the ROUNDED score (ties to the lower id) — the
    * engine-portable boundary every oracle-checked serving path uses.
    * `nprobeL1` defaults to full level-1 probe, which equals the flat
    * probe. */
  def ivfSearchPruned(
      cells: DataFrame,
      centroids: DataFrame,
      queryDf: DataFrame,
      nprobe: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      restrictIds: Option[DataFrame] = None,
      excludeIds: Option[DataFrame] = None,
      roundTo: Int = 4,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame =
    ivfServe(queryDf, batch = false, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(None, exactCodec(cells, vecCol, roundTo), k, idCol, clusterCol,
        applyCandidateFilters(_, idCol, restrictIds, excludeIds)))

  /** Per-cell RADIUS artifact for range-search pruning: `r_c = max over
    * the cell's rows of ||x - centroid_c||` — one corpus pass at build
    * time, nlist rows out (coarse-quantizer scale, like the cellstats
    * histogram). [[ivfRangeSearchPruned]] turns it into an EXACT
    * cell-skip bound; [[buildDenseIndex]] persists it as `radii`. */
  def cellRadii(
      cells: DataFrame,
      centroids: DataFrame,
      vecCol: String = "embedding",
      clusterCol: String = "cluster"): DataFrame =
    cells.filter(col(clusterCol).isNotNull)
      .join(broadcast(centroids.select(col(clusterCol), col("cv"))), Seq(clusterCol))
      .groupBy(col(clusterCol))
      .agg(sqrt(max(VectorOps.sqDist(col(vecCol), col("cv")))).as("radius"))

  /** Exact RANGE (radius) search: every corpus row whose rounded dot score
    * reaches `minScore` — the FAISS `range_search` shape (all neighbors
    * within a threshold, no k), which is also what threshold-style dedup
    * asks ("everything at least this similar to the probe"). One fused
    * scan; the flat baseline [[ivfRangeSearchPruned]] must match. */
  def rangeSearch(
      corpus: DataFrame,
      queryDf: DataFrame,
      minScore: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      roundTo: Int = 4): DataFrame =
    scoreAll(corpus, queryDf, idCol, vecCol)
      .select(col(idCol), round(col("score"), roundTo).as("score"))
      .filter(col("score") >= minScore)
      .orderBy(col("score").desc, col(idCol).asc)

  /** Cell-pruned range search for one query: [[ivfRangeSearchBatchPruned]]
    * run on a batch of one (`query_id` 0, dropped from the output), so the
    * skip bound is written once. Output `(idCol, score)`, score desc, id
    * asc; a zero-row or null-vector query returns no rows. */
  def ivfRangeSearchPruned(
      cells: DataFrame,
      centroids: DataFrame,
      radii: DataFrame,
      queryDf: DataFrame,
      minScore: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4): DataFrame =
    ivfRangeSearchBatchPruned(cells, centroids, radii,
      queryDf.select(lit(0L).as("query_id"), col("qv")), minScore,
      idCol, vecCol, clusterCol, roundTo)
      .drop("query_id")

  /** Cell-pruned range search with an EXACT skip guarantee: for any row x
    * in cell c, Cauchy-Schwarz gives
    * `dot(q, x) = dot(q, mu_c) + dot(q, x - mu_c) <= dot(q, mu_c) +
    * ||q|| * r_c` — no normalization assumption, no triangle-inequality
    * detour through L2. Each query of a small `(query_id LONG, qv)` batch
    * skips the cells whose upper bound falls below `minScore - slack`:
    * they cannot contain a hit. The bound needs only the centroid table
    * and the [[cellRadii]] artifact — |queries| x nlist driver-side work,
    * zero corpus bytes in planning. `slack` absorbs the reported-score
    * rounding (round-half-up can lift a score by 0.5 * 10^-roundTo) plus
    * float accumulation error. The whole batch then runs as ONE scan of
    * the union of surviving partitions (literal `PartitionFilters`), each
    * row scored only against the queries whose bound admits its cell, so
    * per-query results equal the flat [[rangeSearch]] exactly. */
  def ivfRangeSearchBatchPruned(
      cells: DataFrame,
      centroids: DataFrame,
      radii: DataFrame,
      queries: DataFrame,
      minScore: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val slack = 0.5 * math.pow(10, -roundTo) + 1e-6
    val probed = centroids
      .join(broadcast(radii.select(col(clusterCol), col("radius"))), Seq(clusterCol))
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col(clusterCol),
        (VectorOps.dot(col("cv"), col("qv")) +
          sqrt(VectorOps.dot(col("qv"), col("qv"))) * col("radius")).as("ub"))
      .filter(col("ub") >= minScore - slack)
      .select(col("query_id"), col(clusterCol))
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).intValue)).toSeq
    val probedDf = probed.toDF("query_id", clusterCol)
    val cellUnion = probed.map(_._2).distinct
    val pruned =
      if (cellUnion.isEmpty) cells.filter(lit(false))
      else cells.filter(col(clusterCol).isin(cellUnion: _*))
    pruned
      .join(broadcast(probedDf), Seq(clusterCol))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        round(VectorOps.dot(col(vecCol), col("qv")), roundTo).as("score"))
      .filter(col("score") >= minScore)
      .orderBy(col("query_id"), col("score").desc, col(idCol).asc)
  }

  /** Two-stage MATRYOSHKA (truncated-dimension) serving — the adaptive-
    * retrieval recipe for nested-representation embeddings (Kusupati et
    * al. 2022: an MRL-trained vector ranks well on its leading
    * coordinates alone): the coarse stage scores the probed cells on only
    * the FIRST `dPrime` of d coordinates (dPrime/d of the multiply-adds;
    * with a truncated-first column layout, dPrime/d of the scanned
    * bytes), shortlists `kCoarse` on the rounded truncated score
    * (id tie-break — engine-portable boundary), and the refine stage
    * re-scores ONLY the shortlist's full-dimension vectors from the same
    * probed cell partitions. Raw inner product end to end (consistent
    * with every serving path here) — no per-row renormalization of the
    * truncated prefix. */
  def matryoshkaRefineSearch(
      cells: DataFrame,
      centroids: DataFrame,
      queryDf: DataFrame,
      dPrime: Int,
      nprobe: Int,
      kCoarse: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame =
    ivfServe(queryDf, batch = false, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(Some((matryoshkaCodec(cells, dPrime, vecCol), kCoarse)),
        exactCodec(cells, vecCol, roundTo), k, idCol, clusterCol))

  /** Batch form of [[matryoshkaRefineSearch]]. */
  def matryoshkaRefineSearchBatch(
      cells: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      dPrime: Int,
      nprobe: Int,
      kCoarse: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame =
    ivfServe(queries, batch = true, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(Some((matryoshkaCodec(cells, dPrime, vecCol), kCoarse)),
        exactCodec(cells, vecCol, roundTo), k, idCol, clusterCol))

  /** The matryoshka coarse codec: the dot over the first `dPrime`
    * coordinates of the float cells, rounded at 6. */
  private def matryoshkaCodec(cells: DataFrame, dPrime: Int, vecCol: String): Codec = {
    require(dPrime > 0, s"truncation dimension must be positive, got $dPrime")
    Codec(cells, _.withColumn("qtv", slice(col("qv"), 1, dPrime)),
      round(VectorOps.dot(slice(col(vecCol), 1, dPrime), col("qtv")), 6))
  }

  /** Filtered-ANN probe PLANNING: a fixed nprobe under a selective
    * candidate filter silently returns fewer than k rows — the probed
    * cells may simply not hold k admissible ids (the reference hits the
    * same cliff when an `IDSelectorArray` keeps a sliver of the index,
    * `utils/faiss_processing.py:154-166`). This form sizes the probe from
    * the request: rank ALL cells by centroid score (the same driver-scale
    * coarse-quantizer pass every IVF search runs), count ADMISSIBLE
    * candidates per cell, and probe the MINIMAL score-ordered prefix of
    * cells whose cumulative admissible count reaches k (every cell when
    * the whole corpus holds fewer). The serving scan that follows is the
    * ordinary pruned+filtered search over that prefix: literal
    * `PartitionFilters`, the pushed `admissible` predicate, broadcast
    * semi/anti candidate joins.
    *
    * The per-cell counts come from one of two places:
    *  - ARTIFACT-FED (`cellStats` + `admissible`): the persisted
    *    per-(cell, attribute) histogram ([[cellStats]], written by
    *    [[buildDenseIndex]]) filtered by the request's attribute predicate
    *    — a collect over nlist x |attr| rows, so planning touches ZERO
    *    corpus bytes: the only scans a request runs are the histogram
    *    artifact and the probed cells' partitions. This is the 100 TB
    *    point-query path.
    *  - REQUEST-TIME (id-set filters): a narrow (id, cluster) projection
    *    of the cell store counted under the restrict/exclude joins —
    *    corpus-linear in the two thin columns (~1-2% of corpus bytes at
    *    production dims), amortized by batching. Kept for per-request id
    *    sets a build-time histogram cannot know.
    *
    * When BOTH a histogram predicate and id-set filters are supplied, the
    * histogram plans the probe but cannot see the id-set deltas — the
    * prefix can under-fill k by the excluded fraction; callers needing a
    * hard fill guarantee fold headroom into k or drop `cellStats`. */
  def ivfSearchAdaptivePruned(
      cells: DataFrame,
      centroids: DataFrame,
      queryDf: DataFrame,
      k: Int,
      restrictIds: Option[DataFrame] = None,
      excludeIds: Option[DataFrame] = None,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4,
      cellStats: Option[DataFrame] = None,
      admissible: Option[Column] = None,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame = {
    val plan = ServePlan(None, exactCodec(cells, vecCol, roundTo), k, idCol, clusterCol,
      rows => applyCandidateFilters(admissible.fold(rows)(rows.filter),
        idCol, restrictIds, excludeIds))
    require(admissible.isEmpty || cellStats.isDefined,
      "an admissible predicate plans from the cellStats histogram — build " +
        "it (buildDenseIndex statsCols) or express the filter as restrictIds")
    val counts = cellStatsCounts(cells, cellStats, admissible,
      restrictIds, excludeIds, idCol, clusterCol)
    val query = singleQuery(queryDf)
    // every cell (of the opened groups, with a hierarchy), best first
    def ranked(nprobeL1: Option[Int]) =
      probe(centroids, hierarchy, query, nprobeL1, Int.MaxValue, clusterCol).flatMap(_._2)
    val probed = hierarchy match {
      case None => admissiblePrefix(ranked(None), counts, k)
      case Some(_) =>
        // TWO-LEVEL ADAPTIVE PLANNING (VERDICT r17 #3): the flat form
        // ranks ALL cells per request — at nlist ~ 1e5 that materializes
        // exactly the flat centroid scan the hierarchy exists to avoid.
        // Instead: open an exponentially growing PREFIX of the ranked L1
        // groups (starting at the calibrated nprobeL1 when one is
        // supplied), rank only the opened groups' cells (a gid-pruned L2
        // scan), and stop as soon as the opened groups hold k admissible
        // candidates; the same minimal-prefix rule then runs over that
        // ranking. A filter tight enough to exhaust every group
        // degenerates to the full cell ranking, which is BIT-IDENTICAL to
        // the flat form (the full-L1 parity contract), so the planner can
        // never return fewer cells than the flat planner would.
        val groups = quantizer(centroids, hierarchy, clusterCol).top.nlist
        var g = math.min(groups, math.max(1, nprobeL1.getOrElse(1)))
        var result: Option[Seq[Int]] = None
        while (result.isEmpty) {
          val cells = ranked(Some(g))
          val total = cells.foldLeft(0L)((acc, c) => acc + counts.getOrElse(c, 0L))
          if (total >= k || g >= groups) result = Some(admissiblePrefix(cells, counts, k))
          else g = math.min(groups, g * 2)
        }
        result.get
    }
    serveOne(queryDf, probed, plan)
  }

  /** The minimal score-ordered prefix of a cell ranking whose cumulative
    * admissible count reaches k (every ranked cell when the whole ranking
    * holds fewer; at least one cell). */
  private def admissiblePrefix(ranked: Seq[Int], counts: Map[Int, Long], k: Int): Seq[Int] = {
    val cum = ranked.scanLeft(0L)((acc, c) => acc + counts.getOrElse(c, 0L)).tail
    val reachK = cum.indexWhere(_ >= k)
    ranked.take(math.max(if (reachK >= 0) reachK + 1 else ranked.length, 1))
  }

  /** Per-cell admissible counts for adaptive probe planning — the
    * artifact-fed histogram collect when `cellStats` is supplied, the
    * request-time thin-projection count otherwise (see
    * [[ivfSearchAdaptivePruned]] for the cost split). */
  private def cellStatsCounts(
      cells: DataFrame,
      cellStats: Option[DataFrame],
      admissible: Option[Column],
      restrictIds: Option[DataFrame],
      excludeIds: Option[DataFrame],
      idCol: String,
      clusterCol: String): Map[Int, Long] = cellStats match {
    case Some(stats) =>
      admissible.fold(stats)(stats.filter)
        .groupBy(col(clusterCol))
        .agg(sum(col("cnt")).as("cnt"))
        // cell ids are INT in build-time artifacts but LONG in incremental
        // stores landed under long-typed centroid ids — accept both
        .collect().map(r =>
          r.getAs[Number](0).intValue -> r.getAs[Number](1).longValue).toMap
    case None =>
      // null-cluster rows (the documented assignCells output for
      // null-vector corpus rows) can never be probed — drop them before
      // the count, or the null group would NPE the driver-side collect
      applyCandidateFilters(
          cells.select(col(idCol), col(clusterCol)), idCol, restrictIds, excludeIds)
        .filter(col(clusterCol).isNotNull)
        .groupBy(col(clusterCol))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r =>
          r.getAs[Number](0).intValue -> r.getAs[Number](1).longValue).toMap
  }

  /** IVF-PQ serving against PERSISTED codes (the FAISS IVFPQ serving shape:
    * codes live inside the inverted lists, written once at build time by
    * [[pqEncode]] with the cell carried through): probe driver-side
    * ([[probeCells]]), prune the cell-PARTITIONED codes table to the probed
    * cells with a literal `IN` (PartitionFilters directory pruning), ADC-
    * score just those rows against the broadcast query lookup table
    * ([[pqAdcScore]]). Query-time cost: nprobe/k of the CODES (M bytes per
    * row, not d floats) + M table lookups per surviving row — no encode, no
    * training, no original vectors touched. `restrictIds`/`excludeIds`
    * push a per-request candidate filter into the pruned code scan
    * ([[applyCandidateFilters]]). */
  def ivfPqSearchPruned(
      codes: DataFrame,
      codebooks: DataFrame,
      centroids: DataFrame,
      queryDf: DataFrame,
      nprobe: Int,
      k: Int,
      numSub: Int = 8,
      subDim: Int = 8,
      idCol: String = "vec_id",
      clusterCol: String = "cluster",
      restrictIds: Option[DataFrame] = None,
      excludeIds: Option[DataFrame] = None,
      rotation: Option[DataFrame] = None,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame = {
    // BASIS DISCIPLINE (an OPQ index stores codes/codebooks in the
    // ROTATED coordinates while IVF geometry stays raw — buildDenseIndex):
    // the cell probe ranks RAW centroids against the RAW query; only the
    // ADC stage sees the rotated query. Pass `DenseIndex.rotation` here
    // whenever the index was built with `opqRotateIters` — feeding a
    // rotated codes store a raw query silently scores in mismatched bases.
    ivfServe(queryDf, batch = false, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(None, pqCodec(codes, codebooks, rotation, numSub, subDim),
        k, idCol, clusterCol, applyCandidateFilters(_, idCol, restrictIds, excludeIds)))
  }

  /** Rotate a `(qv)` / `(query_id, qv)` query frame into an OPQ index's
    * stored basis — the query half of [[pqAdcScoreRotated]], shared by
    * every pruned/batch IVF-PQ serving path's `rotation` parameter.
    * No-op when the index carries no rotation artifact. */
  private[graft] def rotateQueries(
      queryDf: DataFrame, rotation: Option[DataFrame],
      numSub: Int, subDim: Int): DataFrame = rotation match {
    case None => queryDf
    case Some(rot) =>
      val hasQid = queryDf.columns.contains("query_id")
      val q = if (hasQid) queryDf else queryDf.withColumn("query_id", lit(0L))
      val rq = rotateVectors(q.select(col("query_id"), col("qv")), rot,
        "query_id", "qv", allocate = Some((numSub, subDim)))
      if (hasQid) rq else rq.drop("query_id")
  }

  /** Two-stage IVF-PQ + exact-refine serving (the FAISS `IndexRefineFlat`
    * composition): the ADC stage shortlists `kCoarse` candidates from the
    * probed cells' PERSISTED codes ([[ivfPqSearchPruned]]), then only those
    * candidates' ORIGINAL vectors are fetched from the SAME probed cell
    * partitions (literal `IN` pruning + a broadcast semi join on the
    * k-bounded shortlist) and exactly re-scored for the final top-k. The
    * 100 TB shape: the d-float corpus is touched for exactly kCoarse rows
    * per query — the scan-heavy stage reads M-byte codes, the exact stage
    * reads a shortlist. `restrictIds`/`excludeIds` filter the ADC stage's
    * pruned code scan ([[applyCandidateFilters]]), so the shortlist — and
    * therefore the exact stage — only ever contains admissible candidates. */
  def ivfPqRefineSearch(
      cells: DataFrame,
      codes: DataFrame,
      codebooks: DataFrame,
      centroids: DataFrame,
      queryDf: DataFrame,
      nprobe: Int,
      kCoarse: Int,
      k: Int,
      numSub: Int = 8,
      subDim: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4,
      restrictIds: Option[DataFrame] = None,
      excludeIds: Option[DataFrame] = None,
      rotation: Option[DataFrame] = None,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame =
    // OPQ basis discipline (see [[ivfPqSearchPruned]]): probe raw, ADC
    // rotated, exact refine raw — the refine stage re-scores ORIGINAL
    // vectors, so the raw query is already the right operand there.
    ivfServe(queryDf, batch = false, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(Some((pqCodec(codes, codebooks, rotation, numSub, subDim), kCoarse)),
        exactCodec(cells, vecCol, roundTo), k, idCol, clusterCol,
        applyCandidateFilters(_, idCol, restrictIds, excludeIds)))

  /** Batch form of [[ivfPqRefineSearch]]. */
  def ivfPqRefineSearchBatch(
      cells: DataFrame,
      codes: DataFrame,
      codebooks: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      nprobe: Int,
      kCoarse: Int,
      k: Int,
      numSub: Int = 8,
      subDim: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4,
      rotation: Option[DataFrame] = None,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame =
    ivfServe(queries, batch = true, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(Some((pqCodec(codes, codebooks, rotation, numSub, subDim), kCoarse)),
        exactCodec(cells, vecCol, roundTo), k, idCol, clusterCol))

  /** Scalar int8 encoding of the cell-partitioned corpus — the storage
    * shape of FAISS `IndexIVFScalarQuantizer` (SQ8): symmetric
    * per-coordinate quantization `q = round(127 x)` stored as one BYTE
    * per dimension (array<tinyint> — a 4x smaller scan than the float
    * store) with the cell carried through for `PartitionFilters` pruning.
    * Build-once: persist with [[graft.sources.Store.writePartitioned]] by
    * the cluster column and serve via [[ivfInt8RefineSearch]]. Quantized
    * scores are INTEGER-exact, so the shortlist boundary is deterministic
    * across engines — no float-order concerns at the coarse stage. */
  def int8EncodeCells(
      cells: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster"): DataFrame =
    cells.select(col(idCol), col(clusterCol),
      // clamp like FAISS SQ8: an out-of-range coordinate saturates instead
      // of wrapping modulo 256 through the tinyint cast
      transform(col(vecCol),
        x => greatest(lit(-127d), least(lit(127d),
          round(x.cast("double") * 127))).cast("tinyint")).as("q8"))

  /** TRAINED per-dimension SQ8 ranges (VERDICT r13 #7 — the FAISS
    * `ScalarQuantizer.train()` analog): [[int8EncodeCells]] quantizes at a
    * fixed `x * 127`, which assumes unit-norm coordinates in [-1, 1]; a
    * non-normalized embedding family (raw CLIP logits, un-scaled
    * projections) saturates or wastes most of the byte's range. This fits
    * the ranges instead: one row per dimension with the corpus max |x| —
    * a d-row artifact, persisted beside the codebooks. SYMMETRIC
    * (max-abs, not FAISS's asymmetric per-dim [min, max] affine) by
    * design: the serving metric here is INNER PRODUCT, and a symmetric
    * range keeps 0 -> code 0 so the quantized dot needs no per-dim offset
    * correction terms. The aggregation is a per-(dim) MAX — exact,
    * order-invariant, engine-portable with no rounding discipline needed.
    * Train on the same hash sample as the other trained artifacts when
    * corpus-scale; an unseen coordinate past the trained range SATURATES
    * at encode (same clamp as the untrained path). */
  def int8TrainRanges(
      emb: DataFrame,
      vecCol: String = "embedding"): DataFrame =
    emb.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy(col("dim"))
      .agg(max(abs(col("__x").cast("double"))).as("maxabs"))

  /** [[int8EncodeCells]] with TRAINED ranges: `q = round(x / maxabs_d *
    * 127)`, saturation-clamped like the untrained path. The d-row ranges
    * artifact is packed into one broadcast array (dim-ordered) so the
    * encode stays a single codegen'd `zip_with` over the vector — no
    * per-element join. An all-zero trained dimension (maxabs = 0) encodes
    * to code 0 (its true value is 0 wherever the range was fitted). */
  def int8EncodeCellsTrained(
      cells: DataFrame,
      ranges: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster"): DataFrame =
    cells.crossJoin(broadcast(packRanges(ranges)))
      .select(col(idCol) +: col(clusterCol) +: Seq(
        zip_with(col(vecCol), col("__ma"), (x, ma) =>
          when(ma === 0d, lit(0d)).otherwise(
            greatest(lit(-127d), least(lit(127d),
              round(x.cast("double") / ma * 127)))).cast("tinyint")).as("q8")): _*)

  /** The trained ranges as one dim-ordered `__ma` array row. */
  private def packRanges(ranges: DataFrame): DataFrame =
    ranges
      .agg(array_sort(collect_list(struct(col("dim"), col("maxabs")))).as("__r"))
      .select(transform(col("__r"), s => s.getField("maxabs")).as("__ma"))

  /** Two-stage IVF-SQ8 serving over a TRAINED-range byte store (the
    * [[ivfInt8RefineSearch]] sibling for non-normalized families): the
    * coarse stage DEQUANTIZES corpus-side (`q8_d * maxabs_d / 127`) and
    * dots against the RAW float query — FAISS's asymmetric-distance SQ
    * discipline (quantizing only the stored side loses half the
    * quantization error vs quantizing both) — then the exact stage
    * re-scores just the kCoarse shortlist from the same probed cells.
    * The coarse score is rounded to 6 for an engine-portable shortlist
    * boundary (same discipline as every ADC stage here; the untrained
    * path's integer-exact boundary is unavailable once per-dim scales
    * enter the product). */
  def ivfInt8TrainedRefineSearch(
      int8Store: DataFrame,
      ranges: DataFrame,
      cells: DataFrame,
      centroids: DataFrame,
      queryDf: DataFrame,
      nprobe: Int,
      kCoarse: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame = {
    // the query side carries the packed per-dim scales
    val scales = broadcast(packRanges(ranges))
    val trained = Codec(int8Store, _.crossJoin(scales),
      round(
        aggregate(
          zip_with(
            zip_with(col("q8"), col("qv"),
              (a, b) => a.cast("double") * b.cast("double")),
            col("__ma"), (p, ma) => p * ma),
          lit(0d), (acc, v) => acc + v) / 127d, 6))
    ivfServe(queryDf, batch = false, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(Some((trained, kCoarse)), exactCodec(cells, vecCol, roundTo),
        k, idCol, clusterCol))
  }

  /** Two-stage IVF-SQ8 + exact-refine serving (the scalar-quantizer
    * sibling of [[ivfPqRefineSearch]]): probe driver-side, scan ONLY the
    * probed cells of the persisted int8 store (1 byte/dim — 4x less IO
    * than the float corpus), score in pure INTEGER arithmetic against the
    * int8-quantized query (long accumulator: no overflow below d ~ 2^45,
    * and bit-exact in any engine), shortlist `kCoarse`, then fetch just
    * those rows' ORIGINAL vectors from the same probed cell partitions
    * and exactly re-score for the final top-k. The 100 TB shape: the
    * scan-heavy stage reads bytes, the d-float corpus is touched for
    * exactly kCoarse rows per query. */
  def ivfInt8RefineSearch(
      int8Store: DataFrame,
      cells: DataFrame,
      centroids: DataFrame,
      queryDf: DataFrame,
      nprobe: Int,
      kCoarse: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame =
    ivfServe(queryDf, batch = false, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(Some((int8Codec(int8Store), kCoarse)),
        exactCodec(cells, vecCol, roundTo), k, idCol, clusterCol))

  /** Batch form of [[ivfInt8RefineSearch]]. */
  def ivfInt8RefineSearchBatch(
      int8Store: DataFrame,
      cells: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      nprobe: Int,
      kCoarse: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame =
    ivfServe(queries, batch = true, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(Some((int8Codec(int8Store), kCoarse)),
        exactCodec(cells, vecCol, roundTo), k, idCol, clusterCol))

  /** The SQ8 coarse codec: the integer dot of the stored bytes and the
    * int8-quantized query, handed on as a double. The dot is below 2^53
    * for d < 2^38, so the double keeps the integer (score desc, id asc)
    * order exactly. The query quantizes with the SAME saturation clamp
    * as the corpus store ([[int8EncodeCells]]): an out-of-range
    * coordinate must quantize symmetrically on both sides, or the integer
    * score diverges from a symmetric-clamped engine (ADVICE r12). */
  private def int8Codec(int8Store: DataFrame): Codec =
    Codec(int8Store,
      _.withColumn("q8v", transform(col("qv"), x => greatest(lit(-127d),
        least(lit(127d), round(x.cast("double") * 127))).cast("long"))),
      aggregate(zip_with(col("q8"), col("q8v"), (a, b) => a.cast("long") * b),
        lit(0L), (acc, v) => acc + v).cast("double"))

  /** SIGN-bit binarization of a vector column, packed 64 dims per BIGINT
    * word (FAISS `IndexBinaryFlat` / SimHash sign convention; the
    * binarized store the reference's flat float indexes would shrink to
    * at corpus scale): bit `b` of word `w` is dimension `w*64 + b`, set
    * iff the coordinate is STRICTLY positive (zero and negatives clear —
    * both sides of every Hamming comparison must share this convention).
    * d=768 packs to 12 BIGINTs = 96 bytes/row vs 3072 for the float
    * store — a 32x smaller coarse scan than floats and 8x smaller than
    * SQ8. Padding bits past `d` in the last word are zero on BOTH the
    * corpus and query side, so they never contribute to an XOR. A null
    * vector packs to a null signature (the store writer drops it like
    * every serving artifact here); a ZERO-LENGTH vector packs to an
    * EMPTY signature — without the guard, `ceil(0/64)-1 = -1` makes
    * `sequence(0,-1)` count DOWN and emit a spurious 2-word all-zero
    * signature, whose Hamming distance against any normal-length
    * signature is then NULL (`zip_with` pads with nulls), silently
    * dropping the row from the coarse rank. Pure codegen'd builtins —
    * no UDF. */
  def binarySig(vec: Column): Column =
    when(size(vec) <= 0, expr("cast(array() as array<bigint>)")).otherwise(
      transform(
        sequence(lit(0), ceil(size(vec).cast("double") / 64d).cast("int") - 1),
        w => aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, b) =>
          acc + when(
            (w * 64 + b) < size(vec) &&
              element_at(vec, (w * 64 + b + 1).cast("int")).cast("double") > 0d,
            call_function("shiftleft", lit(1L), b.cast("int")))
            .otherwise(lit(0L)))))

  /** Hamming distance between two packed signatures ([[binarySig]]):
    * popcount of the wordwise XOR, summed. INTEGER-exact, so the coarse
    * shortlist boundary is deterministic across engines — the same
    * portability property as the SQ8 integer dot. LENGTH-MISMATCH-SAFE
    * (ADVICE r15): `zip_with` pads the shorter signature with nulls, and
    * a null XOR word would null the whole sum — and ascending order puts
    * NULLs FIRST in Spark, so a zero-length (or otherwise short)
    * signature would HEAD the Hamming shortlist and consume kCoarse
    * slots. Each padded word instead contributes the MAXIMAL per-word
    * distance (64 bits), so a mismatched row ranks at maximal distance
    * and falls off the shortlist naturally. */
  def hammingSig(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        coalesce(
          call_function("bit_count", x.bitwiseXOR(y)).cast("long"),
          lit(64L))),
      lit(0L), (acc, v) => acc + v)

  /** Binary signature store: `(id, cluster, sig array<bigint>)` — the
    * 1-bit-per-dim serving artifact, cell-partitioned like the int8 and
    * codes stores (persist with [[graft.sources.Store.writePartitioned]]
    * by the cluster column; serve via [[ivfBinaryRefineSearch]]). */
  def binaryEncodeCells(
      cells: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster"): DataFrame =
    cells.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(clusterCol), binarySig(col(vecCol)).as("sig"))

  /** Two-stage IVF-BINARY + exact-refine serving (the 1-bit sibling of
    * [[ivfInt8RefineSearch]], FAISS's binary-index + refine pattern):
    * probe driver-side, scan ONLY the probed cells of the persisted
    * signature store (1 BIT/dim — 32x less IO than the float corpus),
    * rank by packed-XOR-popcount Hamming ASCENDING (integer-exact, ties
    * to the lower id), shortlist `kCoarse`, then fetch just those rows'
    * original vectors from the same probed cell partitions and exactly
    * re-score for the final top-k. For unit-normalized embeddings the
    * sign-Hamming rank is the Goemans-Williamson angle estimate (the
    * SimHash collision bound), so recall concentrates fast in kCoarse;
    * [[graft.SparkEntry]]'s `eval_bq_recall` measures it against the
    * exact top-k rather than assuming it. `restrictIds`/`excludeIds`
    * filter the Hamming stage's pruned signature scan
    * ([[applyCandidateFilters]]), so `kCoarse` counts only admissible
    * rows, as in [[ivfPqRefineSearch]]. */
  def ivfBinaryRefineSearch(
      binStore: DataFrame,
      cells: DataFrame,
      centroids: DataFrame,
      queryDf: DataFrame,
      nprobe: Int,
      kCoarse: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4,
      restrictIds: Option[DataFrame] = None,
      excludeIds: Option[DataFrame] = None,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame =
    ivfServe(queryDf, batch = false, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(Some((binaryCodec(binStore), kCoarse)),
        exactCodec(cells, vecCol, roundTo), k, idCol, clusterCol,
        applyCandidateFilters(_, idCol, restrictIds, excludeIds)))

  /** Batch form of [[ivfBinaryRefineSearch]]. */
  def ivfBinaryRefineSearchBatch(
      binStore: DataFrame,
      cells: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      nprobe: Int,
      kCoarse: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      roundTo: Int = 4,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame =
    ivfServe(queries, batch = true, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(Some((binaryCodec(binStore), kCoarse)),
        exactCodec(cells, vecCol, roundTo), k, idCol, clusterCol))

  /** The 1-bit coarse codec: score = −Hamming between the stored signature
    * and the query packed through the SAME [[binarySig]] convention, so
    * descending score is the integer (Hamming asc, id asc) order. */
  private def binaryCodec(binStore: DataFrame): Codec =
    Codec(binStore, _.withColumn("qsig", binarySig(col("qv"))),
      (lit(0L) - hammingSig(col("sig"), col("qsig"))).cast("double"))

  /** Batch form of [[ivfPqSearchPruned]]. */
  def ivfPqSearchBatchPruned(
      codes: DataFrame,
      codebooks: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      nprobe: Int,
      k: Int,
      numSub: Int = 8,
      subDim: Int = 8,
      idCol: String = "vec_id",
      clusterCol: String = "cluster",
      rotation: Option[DataFrame] = None,
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame =
    ivfServe(queries, batch = true, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(None, pqCodec(codes, codebooks, rotation, numSub, subDim),
        k, idCol, clusterCol))

  /** Batch form of [[ivfSearchPruned]], output `(query_id, id, sim)`. */
  def ivfSearchBatchPruned(
      cells: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      nprobe: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster",
      hierarchy: Option[(DataFrame, DataFrame)] = None,
      nprobeL1: Option[Int] = None): DataFrame =
    ivfServe(queries, batch = true, centroids, hierarchy, nprobeL1, nprobe,
      ServePlan(None, exactCodec(cells, vecCol, 4), k, idCol, clusterCol,
        scoreName = "sim"))

  /** Batch form of [[ivfSearchAdaptivePruned]], artifact-fed only (the
    * `cellStats` histogram is required); each query gets its own minimal
    * probe prefix. Output `(query_id, id, sim)`. */
  def ivfSearchBatchAdaptive(
      cells: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      cellStats: DataFrame,
      admissible: Option[Column] = None,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster"): DataFrame = {
    val plan = ServePlan(None, exactCodec(cells, vecCol, 4), k, idCol, clusterCol,
      rows => admissible.fold(rows)(rows.filter), scoreName = "sim")
    // through cellStatsCounts: cell ids are INT in build-time artifacts
    // but LONG in incremental/liveCellStats stores — a getInt here would
    // ClassCastException the moment the planner is fed a delta histogram
    val counts =
      cellStatsCounts(cells, Some(cellStats), admissible, None, None,
        idCol, clusterCol)
    val probed = probe(centroids, None, batchQueries(queries), None, Int.MaxValue, clusterCol)
      .map { case (qid, ranked) => qid -> admissiblePrefix(ranked, counts, k) }
    serveBatch(queries, probed, plan)
  }

  /** CELL-SKEW mitigation: IVF cells over real embeddings are Zipf-ish —
    * one hot cell holding a large corpus fraction makes nprobe pruning
    * useless for any query probing it (the pruned scan re-reads most of the
    * corpus). This re-clusters every cell whose row count exceeds
    * `maxCellRows` into `subK` sub-cells ([[kmeansFit]] WITHIN the cell —
    * k-means on the hot region only, never a global refit) and replaces the
    * parent centroid with the sub-centroids under fresh cluster ids, so the
    * returned layout is FLAT again: [[probeCells]]/[[ivfSearchPruned]] and
    * the partition-pruned serving plans work unchanged, the two-level
    * structure exists only at build time. Probing at the same nprobe then
    * touches sub-cell-sized partitions (~1/subK of the hot cell) instead of
    * the whole hot region.
    *
    * Sub-centroids are collected driver-side (subK x d floats per split —
    * the same driver-scale bound as [[probeCells]]) so the returned frames
    * are self-contained: nothing left persisted, no lineage back into the
    * training jobs. Splitting is deterministic (hash-seeded [[kmeansFit]]
    * salted by the parent cell id; fresh ids assigned in parent-id order
    * from max(existing)+1), hence oracle-checkable. Returns
    * (new centroids, re-assigned cells); both sides unchanged when nothing
    * exceeds the threshold. Like training itself this is a BUILD/maintenance
    * step — write the outputs with [[graft.sources.Store.writePartitioned]]
    * and serve from the artifacts. */
  def splitOversizedCells(
      cells: DataFrame,
      centroids: DataFrame,
      maxCellRows: Long,
      subK: Int,
      iters: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      clusterCol: String = "cluster"): (DataFrame, DataFrame) = {
    require(subK > 1, s"splitting into $subK sub-cells cannot reduce skew")
    val spark = cells.sparkSession
    import spark.implicits._
    val oversized = cells.groupBy(col(clusterCol)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxCellRows)
      .select(col(clusterCol).cast("int"))
      .orderBy(clusterCol).collect().map(_.getInt(0)).toSeq
    if (oversized.isEmpty) (centroids, cells)
    else {
      val maxId = centroids.agg(max(col(clusterCol).cast("int"))).head.getInt(0)
      var outCents = centroids.filter(!col(clusterCol).isin(oversized: _*))
        .select(col(clusterCol).cast("int").as(clusterCol), col("cv"))
      // null-cluster rows (null-vector corpus rows, per assignCells) must
      // survive the rewrite: under three-valued logic `NOT (NULL IN (...))`
      // is NULL, so a bare NOT-isin filter would silently drop them
      var outCells = cells.filter(
        col(clusterCol).isNull || !col(clusterCol).isin(oversized: _*))
      for ((c, ord) <- oversized.zipWithIndex) {
        val base = maxId + 1 + ord * subK
        val cellRows = cells.filter(col(clusterCol) === c).drop(clusterCol)
        val sub = kmeansFit(cellRows, subK, iters, idCol, vecCol,
          salt = s"split:$c")
        val subLocal = sub
          .select((col("cluster") + base).as(clusterCol), col("cv")).collect()
          .map(r => (r.getInt(0), r.getSeq[Float](1)))
        sub.unpersist()
        val remapped = subLocal.toSeq.toDF(clusterCol, "cv")
        outCents = outCents.unionByName(remapped)
        outCells = outCells.unionByName(
          assignCells(cellRows, remapped, vecCol, clusterCol))
      }
      (outCents, outCells)
    }
  }
}

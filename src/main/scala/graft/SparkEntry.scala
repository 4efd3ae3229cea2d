package graft

import graft.functions.VectorOps
import graft.operators._
import graft.sources.Store
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract — one `queries` entry (+ DuckDB oracle SQL) per operator
  * from SURVEY.md §2. Conventions shared by the Spark plans and the oracles:
  *
  *  - double aggregates go through exact DECIMAL sums and are cast back to
  *    double, so both engines produce bit-identical values regardless of
  *    partition/accumulation order;
  *  - vector scores (64-float dot products, double accumulator) are rounded
  *    to 4-6 decimals — accumulation-order error is ~1e-14 relative, far
  *    below the rounding grain — and every ORDER BY uses the *rounded* score
  *    plus an id tiebreak, so top-k cutoffs agree;
  *  - timestamps cross the engine boundary as epoch millis (BIGINT).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  private def epochMs(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** Stage one-query-per-file parquet landing files for the streaming
    * serving queries in ONE Spark job (r18: the per-id `coalesce(1)`
    * write loop ran five sequential jobs, ~80-115 ms each): a single
    * partitionBy write on a duplicated partition column (so `query_id`
    * stays IN the file bytes — partitionBy strips its own column), then
    * the part files move into a flat landing dir. File count and
    * per-file contents are identical to the old loop, so micro-batch
    * structure under `maxFilesPerTrigger` is unchanged. */
  private def stageQueryFiles(
      emb: DataFrame, ids: Seq[Int], prefix: String): String = {
    val stage = java.nio.file.Files.createTempDirectory(s"${prefix}_src")
    val tmp = java.nio.file.Files.createTempDirectory(s"${prefix}_tmp")
    Store.writer(emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("vec_id").as("__p"))
        .coalesce(1))
      .partitionBy("__p").parquet(tmp.toString)
    ids.foreach { i =>
      java.nio.file.Files.move(stagedPart(tmp.toFile, i).toPath,
        stage.resolve(s"q$i.parquet"))
    }
    stage.toString
  }

  /** The one parquet part file that [[stageQueryFiles]]' partitioned
    * write left under `__p=<i>`. partitionBy writes no directory for an
    * id with no embeddings row (ADVICE r18), and a directory can hold no
    * part file at all (a crashed or interrupted write): both fail with a
    * named message instead of an NPE from `listFiles()` or a bare
    * `NoSuchElementException` from `.head`. */
  private[graft] def stagedPart(tmp: java.io.File, i: Int): java.io.File =
    Option(new java.io.File(tmp, s"__p=$i").listFiles())
      .getOrElse(throw new IllegalArgumentException(
        s"query id $i has no row in embeddings — nothing staged"))
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalArgumentException(
        s"query id $i: no parquet part file under __p=$i — nothing staged"))

  /** Shared DuckDB oracle prefix: the unrolled 2-iteration k-means fit of
    * [[Similarity.kmeansFit]] (salt "kmeans", sims rounded to 6,
    * coordinates to 8, decimal-exact refit sums), parameterized by k —
    * the `LIMIT $k` hash-rank init is the only k-dependent piece. Ends
    * at `m2` = (cluster, i, cx REAL) — the final per-(cluster, dim)
    * coordinates; consumers append their own CTEs / SELECT. */
  private def kmeansFitCtesK(k: Int): String =
    s"""WITH h AS (SELECT vec_id, embedding,
      |       ('0x' || substr(md5('kmeans:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      |     FROM embeddings),
      |c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) - 1 AS cluster,
      |              embedding AS cv
      |       FROM h ORDER BY hh, vec_id LIMIT $k),
      |s1 AS (SELECT e.vec_id, c.cluster,
      |         ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
      |                FROM (SELECT unnest(e.embedding) a, unnest(c.cv) b) x), 6) AS sim
      |       FROM embeddings e CROSS JOIN c0 c),
      |a1 AS (SELECT vec_id, cluster FROM (
      |         SELECT vec_id, cluster,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
      |         FROM s1) WHERE rn = 1),
      |e1 AS (SELECT a.cluster, unnest(e.embedding) AS x,
      |              unnest(generate_series(1, len(e.embedding))) AS i
      |       FROM embeddings e JOIN a1 a USING (vec_id)),
      |m1 AS (SELECT cluster, i,
      |         CAST(ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
      |              / COUNT(*), 8) AS REAL) AS cx
      |       FROM e1 GROUP BY 1, 2),
      |c1 AS (SELECT cluster, list(cx ORDER BY i) AS cv FROM m1 GROUP BY cluster),
      |s2 AS (SELECT e.vec_id, c.cluster,
      |         ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
      |                FROM (SELECT unnest(e.embedding) a, unnest(c.cv) b) x), 6) AS sim
      |       FROM embeddings e CROSS JOIN c1 c),
      |a2 AS (SELECT vec_id, cluster FROM (
      |         SELECT vec_id, cluster,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
      |         FROM s2) WHERE rn = 1),
      |e2 AS (SELECT a.cluster, unnest(e.embedding) AS x,
      |              unnest(generate_series(1, len(e.embedding))) AS i
      |       FROM embeddings e JOIN a2 a USING (vec_id)),
      |m2 AS (SELECT cluster, i,
      |         CAST(ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
      |              / COUNT(*), 8) AS REAL) AS cx
      |       FROM e2 GROUP BY 1, 2)""".stripMargin

  private val kmeansFitCtes: String = kmeansFitCtesK(8)

  /** [[kmeansFitCtes]] extended with the serving-side IVF artifacts:
    * `c2` = the final fitted centroid vectors (the persisted centroid
    * table), `s3`/`a3` = every corpus row's nearest-cell assignment (the
    * cell-PARTITIONED corpus table `DenseArtifacts` writes once and the
    * ANN queries prune). */
  /** Unrolled BPE-trainer CTE chain for the `text_bpe_*` oracles (the
    * DuckDB mirror of [[graft.operators.Lexical.bpeFit]], one p/a/v stage
    * per merge like the k-means oracle's unrolled Lloyd rounds): `v0` is
    * the char-symbolized word-frequency vocabulary, `a{i}` the step-i
    * winning pair, `v{i}` the vocabulary after applying it, `mm` the
    * merge table. */
  private def bpeCtes(k: Int): String = {
    val head =
      """tokw AS (SELECT unnest(regexp_extract_all(lower(text), '\w+')) AS w FROM documents),
        |wc AS (SELECT w, COUNT(*) AS c FROM tokw GROUP BY 1),
        |v0 AS (SELECT array_to_string(string_split(w, ''), ' ') || ' </w>' AS s, c FROM wc)""".stripMargin
    val steps = (1 to k).map { i =>
      s"""p$i AS (SELECT unnest(list_transform(generate_series(1, len(string_split(s, ' ')) - 1),
         |          j -> string_split(s, ' ')[j] || ' ' || string_split(s, ' ')[j+1])) AS pair, c
         |        FROM v${i - 1}),
         |a$i AS (SELECT pair, SUM(c) AS f FROM p$i GROUP BY 1 ORDER BY f DESC, pair ASC LIMIT 1),
         |v$i AS (SELECT trim(replace(' ' || v.s || ' ', ' ' || a.pair || ' ',
         |          ' ' || replace(a.pair, ' ', '') || ' ')) AS s, v.c
         |        FROM v${i - 1} v CROSS JOIN a$i a)""".stripMargin
    }
    val mm = (1 to k).map(i => s"SELECT $i AS step, pair, f FROM a$i")
      .mkString("mm AS (", " UNION ALL ", ")")
    (head +: steps :+ mm).mkString(",\n")
  }

  /** Shared DuckDB oracle chain for the PCA queries: the one-pass Gram
    * (`g`, decimal-exact round-8 entries), 4 unrolled power-iteration
    * rounds (w/n/v per round, every intermediate rounded to 8 — the
    * mirror of [[graft.operators.Similarity.pcaPowerFit]]), and the
    * Rayleigh quotient (`ray`). Ends at `v4` = (i 1-based, v) and
    * `ray` = (eigval); consumers append their own SELECT. */
  private val pcaPowerCtes: String = {
    val iterSteps = (1 to 4).map { k =>
      s"""w$k AS (SELECT g.i, ROUND(CAST(SUM(CAST(g.g * v.v AS DECIMAL(28,12)))
         |         AS DOUBLE), 8) AS w FROM g JOIN v${k - 1} v ON g.j = v.i GROUP BY 1),
         |n$k AS (SELECT ROUND(sqrt(CAST(SUM(CAST(w * w AS DECIMAL(28,12)))
         |         AS DOUBLE)), 8) AS nrm FROM w$k),
         |v$k AS MATERIALIZED (SELECT i, ROUND(w / nrm, 8) AS v FROM w$k CROSS JOIN n$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ex AS (SELECT vec_id, unnest(embedding) AS x,
       |       unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
       |g AS MATERIALIZED (SELECT a.i, b.i AS j,
       |        ROUND(CAST(SUM(CAST(a.x::DOUBLE * b.x::DOUBLE AS DECIMAL(28,12)))
       |              AS DOUBLE), 8) AS g
       |      FROM ex a JOIN ex b USING (vec_id) GROUP BY 1, 2),
       |dd AS (SELECT MAX(i) AS d FROM g),
       |v0 AS (SELECT i, ROUND(1.0 / sqrt(d), 8) AS v
       |       FROM (SELECT DISTINCT i FROM g) CROSS JOIN dd),
       |$iterSteps,
       |ray AS (SELECT ROUND(CAST(SUM(CAST(g.g * a.v * b.v AS DECIMAL(28,12)))
       |          AS DOUBLE), 6) AS eigval
       |        FROM g JOIN v4 a ON g.i = a.i JOIN v4 b ON g.j = b.i)""".stripMargin
  }

  /** SHORTEST-FORM decimal mediation for the OPQ oracle chain (r17,
    * VERDICT r16 #2): Spark/Java round doubles through
    * `BigDecimal.valueOf` — the SHORTEST decimal form — while DuckDB's
    * native ROUND/CAST round the BINARY value; the two disagree exactly
    * on the .5-boundary band, and fifteen chained deflations amplify a
    * single flip into 6th-decimal score drift (measured: coordinate
    * drift 1e-8 at component 2 growing to 6.8e-7 at component 15, one
    * flipped score cell at m=16). DuckDB's DOUBLE→VARCHAR prints the
    * shortest round-trip form and VARCHAR→DECIMAL parses exactly then
    * rounds HALF_UP — so mediating every round/cast through VARCHAR
    * reproduces Java semantics bit-for-bit (emulation-verified against
    * the full 16-component artifact). */
  private def sfDec(expr: String, scale: Int = 12): String =
    s"CAST(CAST(($expr) AS VARCHAR) AS DECIMAL(28,$scale))"
  private def sfRound(expr: String, s: Int): String =
    s"CAST(${sfDec(expr, s)} AS DOUBLE)"

  /** [[pcaPowerCtes]] with parametric iteration count and shortest-form
    * rounding ([[sfRound]]/[[sfDec]]) — the power prefix of the OPQ
    * deflation oracle. Same CTE names (`g`, `dd`, `v0..vN`, `ray`) so
    * consumers compose identically. */
  private def opqPowerCtes(iters: Int): String = {
    val iterSteps = (1 to iters).map { k =>
      s"""w$k AS (SELECT g.i, ${sfRound(s"CAST(SUM(${sfDec("g.g * v.v")}) AS DOUBLE)", 8)} AS w
         |         FROM g JOIN v${k - 1} v ON g.j = v.i GROUP BY 1),
         |n$k AS (SELECT ${sfRound(s"sqrt(CAST(SUM(${sfDec("w * w")}) AS DOUBLE))", 8)} AS nrm FROM w$k),
         |v$k AS MATERIALIZED (SELECT i, ${sfRound("w / nrm", 8)} AS v FROM w$k CROSS JOIN n$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ex AS (SELECT vec_id, unnest(embedding) AS x,
       |       unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
       |g AS MATERIALIZED (SELECT a.i, b.i AS j,
       |        ${sfRound(s"CAST(SUM(${sfDec("a.x::DOUBLE * b.x::DOUBLE")}) AS DOUBLE)", 8)} AS g
       |      FROM ex a JOIN ex b USING (vec_id) GROUP BY 1, 2),
       |dd AS (SELECT MAX(i) AS d FROM g),
       |v0 AS (SELECT i, ${sfRound("1.0 / sqrt(d)", 8)} AS v
       |       FROM (SELECT DISTINCT i FROM g) CROSS JOIN dd),
       |$iterSteps,
       |ray AS (SELECT ${sfRound(s"CAST(SUM(${sfDec("g.g * a.v * b.v")}) AS DOUBLE)", 6)} AS eigval
       |        FROM g JOIN v$iters a ON g.i = a.i JOIN v$iters b ON g.j = b.i)""".stripMargin
  }

  /** m-component deflation chain (VERDICT r14 #8 / r16 #2) — component 0
    * is [[opqPowerCtes]]' `v{iters}`/`ray`; each component c >= 1
    * deflates the previous gram with the round-6 Rayleigh
    * (`gD_c = round8(gD_{c-1} − λ·vᵢ·vⱼ)`) and re-runs the same `iters`
    * rounded power rounds from the same uniform start — exactly the
    * in-memory loop [[graft.operators.Similarity.pcaTopComponents]]
    * executes per component, with all rounds in shortest-form semantics.
    * Ends at `rotv` = (vec_id, emb2 = the m round-6 float projections in
    * OUTPUT-coordinate order): with eigenvalue allocation
    * ([[graft.operators.Similarity.rotationCoefs]], component c lands at
    * slot (c % numSub)·subDim + c/numSub), output slot s holds component
    * (s % subDim)·numSub + s/subDim — the identity when subDim = 1. */
  private def opqDeflateCtes(
      mComps: Int, iters: Int = 4,
      numSub: Int = 0, subDim: Int = 1): String = {
    require(mComps >= 2, "the deflation chain starts at the 2nd component")
    val nSub = if (numSub == 0) mComps else numSub
    require(nSub * subDim == mComps, "allocation must cover every component")
    val comps = (1 until mComps).map { c =>
      val gPrev = if (c == 1) "g" else s"gD${c - 1}"
      val vPrev = if (c == 1) s"v$iters" else s"vD${c - 1}_$iters"
      val rayPrev = if (c == 1) "ray" else s"rayD${c - 1}"
      val rounds = (1 to iters).map { k =>
        s"""wD${c}_$k AS (SELECT g.i, ${sfRound(s"CAST(SUM(${sfDec("g.g * v.v")}) AS DOUBLE)", 8)} AS w
           |         FROM gD$c g JOIN vD${c}_${k - 1} v ON g.j = v.i GROUP BY 1),
           |nD${c}_$k AS (SELECT ${sfRound(s"sqrt(CAST(SUM(${sfDec("w * w")}) AS DOUBLE))", 8)} AS nrm FROM wD${c}_$k),
           |vD${c}_$k AS MATERIALIZED (SELECT i, ${sfRound("w / nrm", 8)} AS v FROM wD${c}_$k CROSS JOIN nD${c}_$k)""".stripMargin
      }.mkString(",\n")
      val ray =
        if (c == mComps - 1) ""
        else s""",
           |rayD$c AS (SELECT ${sfRound(s"CAST(SUM(${sfDec("g.g * a.v * b.v")}) AS DOUBLE)", 6)} AS eigval
           |        FROM gD$c g JOIN vD${c}_$iters a ON g.i = a.i JOIN vD${c}_$iters b ON g.j = b.i)""".stripMargin
      s"""gD$c AS MATERIALIZED (SELECT g.i, g.j, ${sfRound("g.g - r.eigval * a.v * b.v", 8)} AS g
         |       FROM $gPrev g JOIN $vPrev a ON g.i = a.i JOIN $vPrev b ON g.j = b.i CROSS JOIN $rayPrev r),
         |vD${c}_0 AS (SELECT i, ${sfRound("1.0 / sqrt(d)", 8)} AS v
         |        FROM (SELECT DISTINCT i FROM gD$c) CROSS JOIN dd),
         |$rounds$ray""".stripMargin
    }.mkString(",\n")
    val cmps = (0 until mComps).map { c =>
      val v = if (c == 0) s"v$iters" else s"vD${c}_$iters"
      s"cmpD$c AS (SELECT list(v ORDER BY i) AS pc FROM $v)"
    }.mkString(",\n")
    // output-coordinate order: slot s ← component (s % subDim)*numSub + s/subDim
    val projs = (0 until mComps).map { s =>
      val c = (s % subDim) * nSub + s / subDim
      s"""CAST(${sfRound(s"""(SELECT SUM(x.a::DOUBLE * x.b)
         |        FROM (SELECT unnest(e.embedding) a, unnest(c$c.pc) b) x)""".stripMargin, 6)} AS REAL)"""
    }.mkString(",\n     ")
    val joins = (0 until mComps).map(c => s"CROSS JOIN cmpD$c c$c").mkString(" ")
    s"""${opqPowerCtes(iters)},
       |$comps,
       |$cmps,
       |rotv AS MATERIALIZED (SELECT e.vec_id, [$projs] AS emb2
       |  FROM embeddings e $joins)""".stripMargin
  }

  /** The codebook/encode/query-table chain on top of a
    * [[opqDeflateCtes]] `rotv`, parametric in subspace count, subspace
    * WIDTH and Lloyd iteration count (shared by the whole
    * `sim_opq_adc*` family and the IVF-pruned serving twin):
    * hash-sampled init at numSub×subDim geometry, `lloydIters`
    * refinements (each = argmin assign + shortest-form decimal mean,
    * mirroring [[graft.operators.Similarity.pqRefineCodebooks]]),
    * per-(row, subspace) argmin encode against the FINAL codebook
    * `cb{lloydIters}b`, and the rotated query's ADC lookup table. Ends
    * at `encb` = (id, m, code) and `qtabb` = (m, c, p). */
  private def opqCodesCtes(
      numSub: Int, subDim: Int = 1, lloydIters: Int = 1): String = {
    def slice(rel: String) =
      s"$rel.emb2[m*$subDim+1 : m*$subDim+$subDim]"
    val lloyd = (1 to lloydIters).map { t =>
      s"""dA${t}b AS (SELECT s.id, s.m, cb.c,
         |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
         |     FROM (SELECT unnest(s.sv) a, unnest(cb.cbv) b) x) AS d
         |  FROM subb s JOIN cb${t - 1}b cb USING (m)),
         |asn${t}b AS (SELECT id, m, c FROM (
         |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
         |    FROM dA${t}b) WHERE rn = 1),
         |ex${t}b AS (SELECT a.m, a.c, unnest(s.sv) AS x,
         |               unnest(generate_series(1, len(s.sv))) AS i
         |        FROM asn${t}b a JOIN subb s ON s.id = a.id AND s.m = a.m),
         |mn${t}b AS (SELECT m, c, i,
         |          CAST(${sfRound(s"CAST(SUM(${sfDec("CAST(x AS DOUBLE)")}) AS DOUBLE) / COUNT(*)", 8)} AS REAL) AS cx
         |        FROM ex${t}b GROUP BY 1, 2, 3),
         |cb${t}b AS MATERIALIZED (SELECT m, c, list(cx ORDER BY i) AS cbv
         |        FROM mn${t}b GROUP BY m, c)""".stripMargin
    }.mkString(",\n")
    val cbF = s"cb${lloydIters}b"
    s"""msb AS (SELECT unnest(generate_series(0, ${numSub - 1})) AS m),""" +
    s"""
      |pqhb AS (SELECT vec_id,
      |    ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      |  FROM embeddings),
      |pqsb AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) - 1 AS c,
      |               vec_id
      |        FROM pqhb ORDER BY hh, vec_id LIMIT 16),
      |cb0b AS (SELECT m, s.c, ${slice("r")} AS cbv
      |        FROM pqsb s JOIN rotv r USING (vec_id), msb),
      |subb AS MATERIALIZED (SELECT r.vec_id AS id, m, ${slice("r")} AS sv
      |        FROM rotv r, msb),
      |$lloyd,
      |dEb AS (SELECT s.id, s.m, cb.c,
      |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
      |     FROM (SELECT unnest(s.sv) a, unnest(cb.cbv) b) x) AS d
      |  FROM subb s JOIN $cbF cb USING (m)),
      |encb AS MATERIALIZED (SELECT id, m, c AS code FROM (
      |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
      |    FROM dEb) WHERE rn = 1),
      |qtabb AS (SELECT cb.m, cb.c,
      |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
      |     FROM (SELECT unnest(cb.cbv) a, unnest(q.emb2[cb.m*$subDim+1 : cb.m*$subDim+$subDim]) b) x) AS p
      |  FROM $cbF cb CROSS JOIN (SELECT emb2 FROM rotv WHERE vec_id = 0) q)""".stripMargin
  }

  /** Shared final SELECT of every OPQ ADC oracle: the per-(id) score is
    * round₆(Σₘ dec12(pₘ)) in shortest-form semantics, mirroring
    * [[graft.operators.Similarity.pqAdcScore]]'s
    * `sum(p.cast(decimal(18,12))).cast(double)` + round(6). */
  private val opqScoreSelect: String =
    s"""SELECT e.id AS vec_id,
       |       ${sfRound(s"CAST(SUM(CAST(CAST(q.p AS VARCHAR) AS DECIMAL(18,12))) AS DOUBLE)", 6)} AS score
       |FROM encb e JOIN qtabb q ON q.m = e.m AND q.c = e.code
       |GROUP BY 1 ORDER BY score DESC, vec_id LIMIT 10""".stripMargin

  private val opqM2CodesCtes: String = opqCodesCtes(2)

  private def ivfCellCtesK(k: Int): String =
    s"""${kmeansFitCtesK(k)},
       |c2 AS (SELECT cluster, list(cx ORDER BY i) AS cv FROM m2 GROUP BY cluster),
       |s3 AS (SELECT e.vec_id, c.cluster,
       |         ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
       |                FROM (SELECT unnest(e.embedding) a, unnest(c.cv) b) x), 6) AS sim
       |       FROM embeddings e CROSS JOIN c2 c),
       |a3 AS (SELECT vec_id, cluster FROM (
       |         SELECT vec_id, cluster,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
       |         FROM s3) WHERE rn = 1)""".stripMargin

  private val ivfCellCtes: String = ivfCellCtesK(8)

  /** Two-level coarse hierarchy oracle chain on top of [[ivfCellCtesK]]'s
    * `c2` (the fitted centroid table): mirrors
    * [[graft.operators.Similarity.buildCoarseHierarchy]] at groups=3 /
    * 2 Lloyd iterations — hash-sampled init over the CENTROID ids (salt
    * `coarse2`), round-6 cosine assignment with lower-gid ties, DECIMAL
    * mean / round-8 / REAL coords — then `gtag` = every centroid's final
    * group (the gid-partitioned L2 store). Ends at `g2` (gid, gv) and
    * `gtag` (cid, gid). */
  private val coarse2Ctes: String =
    """hh2 AS (SELECT cluster AS cid, cv,
      |       ('0x' || substr(md5('coarse2:' || CAST(cluster AS VARCHAR)), 1, 15))::BIGINT AS hh
      |     FROM c2),
      |g0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, cid) AS INT) - 1 AS gid,
      |              cv AS gv
      |       FROM hh2 ORDER BY hh, cid LIMIT 3),
      |gs1 AS (SELECT h.cid, g.gid,
      |         ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
      |                FROM (SELECT unnest(h.cv) a, unnest(g.gv) b) x), 6) AS sim
      |       FROM hh2 h CROSS JOIN g0 g),
      |ga1 AS (SELECT cid, gid FROM (
      |         SELECT cid, gid,
      |           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY sim DESC, gid) AS rn
      |         FROM gs1) WHERE rn = 1),
      |ge1 AS (SELECT a.gid, unnest(h.cv) AS x,
      |              unnest(generate_series(1, len(h.cv))) AS i
      |       FROM hh2 h JOIN ga1 a USING (cid)),
      |gm1 AS (SELECT gid, i,
      |         CAST(ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
      |              / COUNT(*), 8) AS REAL) AS gx
      |       FROM ge1 GROUP BY 1, 2),
      |g1 AS (SELECT gid, list(gx ORDER BY i) AS gv FROM gm1 GROUP BY gid),
      |gs2 AS (SELECT h.cid, g.gid,
      |         ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
      |                FROM (SELECT unnest(h.cv) a, unnest(g.gv) b) x), 6) AS sim
      |       FROM hh2 h CROSS JOIN g1 g),
      |ga2 AS (SELECT cid, gid FROM (
      |         SELECT cid, gid,
      |           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY sim DESC, gid) AS rn
      |         FROM gs2) WHERE rn = 1),
      |ge2 AS (SELECT a.gid, unnest(h.cv) AS x,
      |              unnest(generate_series(1, len(h.cv))) AS i
      |       FROM hh2 h JOIN ga2 a USING (cid)),
      |gm2 AS (SELECT gid, i,
      |         CAST(ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
      |              / COUNT(*), 8) AS REAL) AS gx
      |       FROM ge2 GROUP BY 1, 2),
      |g2 AS (SELECT gid, list(gx ORDER BY i) AS gv FROM gm2 GROUP BY gid),
      |gts AS (SELECT h.cid, g.gid,
      |         ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
      |                FROM (SELECT unnest(h.cv) a, unnest(g.gv) b) x), 6) AS sim
      |       FROM hh2 h CROSS JOIN g2 g),
      |gtag AS (SELECT cid, gid FROM (
      |         SELECT cid, gid,
      |           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY sim DESC, gid) AS rn
      |         FROM gts) WHERE rn = 1)""".stripMargin

  /** Shared oracle-SQL chain: hash-rank-sampled PQ codebooks (`cb0`, 8
    * subspaces x 8 dims x 16 codes — the 16 rows with the smallest
    * `hash60('pq:' + id)`, numbered 0..15 in hash order, mirroring
    * [[Similarity.pqCodebooks]]'s id-space-agnostic init) refined by ONE
    * per-subspace Lloyd iteration into `cbr` (m, c, cbv) — mirrors
    * [[Similarity.pqRefineCodebooks]] hash-for-hash (argmin-L2 re-assign
    * with ties to the smaller code, decimal-exact coordinate-mean refit,
    * round-8 floats). `cbr` is the codebook artifact `DenseArtifacts`
    * persists; `sub` (every corpus row's subvectors) is reused by the
    * downstream encode CTEs. */
  private val pqRefinedCbCtes: String =
    """ms AS (SELECT unnest(generate_series(0, 7)) AS m),
      |pqh AS (SELECT vec_id, embedding,
      |          ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      |        FROM embeddings),
      |pqs AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) - 1 AS c,
      |               embedding
      |        FROM pqh ORDER BY hh, vec_id LIMIT 16),
      |cb0 AS (SELECT m, s.c, s.embedding[m*8+1 : m*8+8] AS cbv
      |        FROM pqs s, ms),
      |sub AS (SELECT e.vec_id AS id, m, e.embedding[m*8+1 : m*8+8] AS sv
      |        FROM embeddings e, ms),
      |d0 AS (SELECT s.id, s.m, cb0.c,
      |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
      |     FROM (SELECT unnest(s.sv) a, unnest(cb0.cbv) b) x) AS d
      |  FROM sub s JOIN cb0 USING (m)),
      |a0 AS (SELECT id, m, c FROM (
      |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
      |    FROM d0) WHERE rn = 1),
      |ex0 AS (SELECT a.m, a.c, unnest(s.sv) AS x,
      |               unnest(generate_series(1, len(s.sv))) AS i
      |        FROM a0 a JOIN sub s ON s.id = a.id AND s.m = a.m),
      |mn0 AS (SELECT m, c, i,
      |          CAST(ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
      |               / COUNT(*), 8) AS REAL) AS cx
      |        FROM ex0 GROUP BY 1, 2, 3),
      |cbr AS (SELECT m, c, list(cx ORDER BY i) AS cbv FROM mn0 GROUP BY m, c)""".stripMargin

  /** Shared DuckDB chain for the d=768 COARSE layer (the mirror of
    * [[D768Artifacts]]'s centroid/cell build): `e768` the deterministic
    * expansion, `cents`/`cells` the 4-cell hash-sampled coarse layer.
    * Consumed directly by the SQ8/matryoshka d=768 oracles; the IVF-PQ
    * family appends the codebook chain ([[d768IvfPqCtes]]). */
  private val d768CellCtes: String =
    """WITH e768 AS MATERIALIZED (SELECT vec_id,
      |    list_transform(generate_series(0, 767), j ->
      |      CAST(embedding[(j*7) % 64 + 1] * ((1 + j % 5) / 3.0) AS REAL)) AS emb
      |  FROM embeddings),
      |ch AS (SELECT vec_id,
      |    ('0x' || substr(md5('c768:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      |  FROM embeddings),
      |csel AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) - 1 AS cluster,
      |               vec_id
      |        FROM ch ORDER BY hh, vec_id LIMIT 4),
      |cents AS MATERIALIZED (SELECT c.cluster, e.emb AS cv
      |        FROM csel c JOIN e768 e USING (vec_id)),
      |asg AS (SELECT e.vec_id, c.cluster,
      |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
      |           FROM (SELECT unnest(e.emb) a, unnest(c.cv) b) x), 6) AS sim
      |  FROM e768 e CROSS JOIN cents c),
      |cells AS MATERIALIZED (SELECT vec_id, cluster FROM (
      |    SELECT vec_id, cluster, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn FROM asg)
      |  WHERE rn = 1)""".stripMargin

  /** [[d768CellCtes]] + the 8×96-geometry PQ codebook chain (`cbr` = 16
    * codes, hash-sampled init + ONE Lloyd refinement; `sub` every row's
    * subvectors) — the full mirror of [[D768Artifacts]] for the IVF-PQ
    * d=768 oracles. Consumers append probe/encode/score CTEs. */
  private val d768IvfPqCtes: String =
    s"""$d768CellCtes,
      |ms AS (SELECT unnest(generate_series(0, 7)) AS m),
      |pqh AS (SELECT vec_id,
      |    ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      |  FROM embeddings),
      |pqs AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) - 1 AS c,
      |               vec_id
      |        FROM pqh ORDER BY hh, vec_id LIMIT 16),
      |cb0 AS (SELECT m, s.c, e.emb[m*96+1 : m*96+96] AS cbv
      |        FROM pqs s JOIN e768 e USING (vec_id), ms),
      |sub AS MATERIALIZED (SELECT e.vec_id AS id, m, e.emb[m*96+1 : m*96+96] AS sv
      |        FROM e768 e, ms),
      |d0 AS (SELECT s.id, s.m, cb0.c,
      |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
      |     FROM (SELECT unnest(s.sv) a, unnest(cb0.cbv) b) x) AS d
      |  FROM sub s JOIN cb0 USING (m)),
      |a0 AS (SELECT id, m, c FROM (
      |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
      |    FROM d0) WHERE rn = 1),
      |ex0 AS (SELECT a.m, a.c, unnest(s.sv) AS x,
      |               unnest(generate_series(1, len(s.sv))) AS i
      |        FROM a0 a JOIN sub s ON s.id = a.id AND s.m = a.m),
      |mn0 AS (SELECT m, c, i,
      |          CAST(ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
      |               / COUNT(*), 8) AS REAL) AS cx
      |        FROM ex0 GROUP BY 1, 2, 3),
      |cbr AS MATERIALIZED (SELECT m, c, list(cx ORDER BY i) AS cbv
      |        FROM mn0 GROUP BY m, c)""".stripMargin

  /** The C7 grid-token channel's synthetic per-doc bbox context — two
    * deterministic md5-derived `{cell}{class}` tokens per doc (shared by the
    * q33 plan, the panel index build, and the q33 oracle). */
  private[graft] def bboxDocs(docs: DataFrame): DataFrame = {
    val cellCsv = graft.functions.GridEncoding.cells.map(_._1).mkString(",")
    val clsCsv = "person,bicycle,car,motorcycle,airplane,bus,train,truck,boat,trafficlight"
    def pick(csv: String, n: Int, from: Int) = element_at(
      split(lit(csv), ","),
      (conv(substring(md5(col("text")), from, 8), 16, 10).cast("long") % n + 1).cast("int"))
    docs.select(col("doc_id"),
      concat_ws(" ",
        concat(pick(cellCsv, 49, 1), pick(clsCsv, 10, 9)),
        concat(pick(cellCsv, 49, 17), pick(clsCsv, 10, 25))).as("bbox_text"))
  }

  /** Per-JVM memoized fitted sparse indexes over the `documents` table —
    * the build-once/query-many artifact store behind every sparse-search
    * query (VERDICT r2 #1): the first sparse query of a run fits and
    * persists the index (ONE corpus tokenize), every later query reads the
    * term-pruned artifacts. In production these live in [[graft.sources.Store]]
    * managed locations and refresh via
    * [[graft.streaming.IncrementalIndex.updatePostings]] +
    * [[Lexical.writeIndexFromPostings]]; here they key off the dataset dir
    * under java.io.tmpdir so Verify/Bench runs are self-contained. */
  /** Build-once/read-many artifact memoization shared by the sparse and
    * dense index stores. Memoizes only AFTER the build succeeds: a build
    * that dies partway (the writers run several jobs) must not poison the
    * memo, or the next query would silently read a mixture of partial and
    * stale artifacts instead of rebuilding. */
  private object ArtifactMemo {
    private val built = scala.collection.mutable.Set.empty[String]
    /** Loaded-HANDLE memo (r18, guide §1/§7: ~12 of the 19 jobs a single
      * `sim_*` query ran were `spark.read.parquet` schema-inference jobs
      * re-resolving the same immutable artifact dir — ~35 ms each). What
      * is memoized is the LAZY DataFrame handles plus the fitted scalar
      * params of the index (the `read` closure's value) — never query
      * results or materialized data: every action over a memoized handle
      * still scans the parquet files. This is the load-the-index-once
      * half of the load-don't-refit convention. Keyed by session (a
      * DataFrame is session-bound; per-suite sessions re-read) and the
      * stamped artifact path (data regeneration re-keys via [[root]]). */
    private val handles =
      new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Any]()
    /** Source-data stamp folded into the artifact path: the driver
      * REGENERATES the testdata between rounds under the same directory
      * names, and a fitted artifact reused across a regeneration would
      * hash-mismatch every oracle — the stamp (source table mtimes) gives
      * each data generation its own namespace. */
    private def stamp(dir: String): String = {
      val ms = Seq("documents.parquet", "embeddings.parquet")
        .map(f => new java.io.File(s"$dir/$f").lastModified()).mkString("-")
      java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(ms))
    }
    def root(dir: String, variant: String): String =
      s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
        s"${dir.replaceAll("[^a-zA-Z0-9._-]", "_")}-${stamp(dir)}/$variant"
    /** Build-once across JVMs: a `_graft_built` completion marker (written
      * only AFTER a successful build, so a crashed builder never looks
      * complete) lets a second JVM read instead of rebuild, and a
      * cross-process file lock serializes concurrent builders — the
      * Verify-vs-test-suite race that transiently corrupted a shared
      * artifact dir. The in-memory memo keeps the common single-JVM case
      * lock-free after the first call. */
    def apply[A](s: SparkSession, p: String)(build: => A)(read: => A): A = {
      val k = (s, p)
      val h = handles.get(k)
      if (h != null) return h.asInstanceOf[A]
      val v = locked(p)(build)(read)
      handles.put(k, v)
      v
    }
    private def locked[A](p: String)(build: => A)(read: => A): A = synchronized {
      if (built(p)) return read
      new java.io.File(p).getParentFile.mkdirs()
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(p + ".lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lock = ch.lock()
      try {
        val marker = new java.io.File(s"$p/_graft_built")
        if (marker.exists()) { built.add(p); read }
        else {
          val idx = build
          new java.io.File(p).mkdirs()
          java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
          built.add(p)
          idx
        }
      } finally { lock.release(); ch.close() }
    }
  }

  private object SparseArtifacts {
    def unigram(s: SparkSession, dir: String): Lexical.SparseIndex = {
      val p = ArtifactMemo.root(dir, "unigram")
      ArtifactMemo(s, p)(Lexical.writeIndex(s, t(s, dir, "documents"), "doc_id", "text", p))(
        Lexical.readIndex(s, p))
    }
    def ngram13(s: SparkSession, dir: String): Lexical.SparseIndex = {
      val p = ArtifactMemo.root(dir, "ngram13")
      ArtifactMemo(s, p)(Lexical.writeIndexNgrams(s, t(s, dir, "documents"), "doc_id", "text", 1, 3, p))(
        Lexical.readIndex(s, p))
    }
    /** Word-BIGRAM postings index — the LM quality gate's fitted model
      * ([[TextAnalysis.lmQualityFromPostings]] reads `postings` for the
      * bigram counts and instances; unigram counts come from [[unigram]]). */
    def bigram(s: SparkSession, dir: String): Lexical.SparseIndex = {
      val p = ArtifactMemo.root(dir, "bigram")
      ArtifactMemo(s, p)(Lexical.writeIndexNgrams(s, t(s, dir, "documents"), "doc_id", "text", 2, 2, p))(
        Lexical.readIndex(s, p))
    }
    /** Fitted LM model tables (the relational KenLM file): corpus bigram /
      * unigram counts + vocabulary size, derived ONCE from the postings
      * artifacts and persisted term-clustered. Scoring joins bigram
      * INSTANCES against these — no corpus-level aggregation per query. */
    case class LmModel(bgCounts: DataFrame, uniCounts: DataFrame, vocab: DataFrame)
    def lm(s: SparkSession, dir: String): LmModel = {
      val p = ArtifactMemo.root(dir, "lm")
      def read = LmModel(
        bgCounts = s.read.parquet(s"$p/bgCounts"),
        uniCounts = s.read.parquet(s"$p/uniCounts"),
        vocab = s.read.parquet(s"$p/vocab"))
      def clustered(df: DataFrame, key: String, path: String): Unit =
        Store.writer(df.repartition(8, col(key)).sortWithinPartitions(key))
          .option("compression", "zstd").parquet(path)
      ArtifactMemo(s, p) {
        clustered(bigram(s, dir).postings
          .groupBy(col("term")).agg(sum(col("tf")).as("c_bg"))
          .select(col("term").as("ngram"), col("c_bg")), "ngram", s"$p/bgCounts")
        clustered(unigram(s, dir).postings
          .groupBy(col("term")).agg(sum(col("tf")).as("c_uni")), "term", s"$p/uniCounts")
        Store.writer(s.read.parquet(s"$p/uniCounts").agg(count(lit(1)).as("v"))
          .coalesce(1)).parquet(s"$p/vocab")
        read
      }(read)
    }
    def panel(s: SparkSession, dir: String): Lexical.MultiSparseIndex = {
      val p = ArtifactMemo.root(dir, "panel")
      ArtifactMemo(s, p) {
        val docs = t(s, dir, "documents")
        Lexical.writeMultiIndex(s, Seq(
          ("bbox", bboxDocs(docs), "doc_id", "bbox_text"),
          ("tag", docs, "doc_id", "text")), p)
      }(Lexical.readMultiIndex(s, p))
    }
  }

  /** Per-JVM memoized fitted DENSE (IVF) index over the `embeddings` table —
    * the engine's analog of FAISS `index.train()` + `index.add()` artifacts
    * (reference `create_bin.ipynb` trains nothing because it stays
    * flat-exact; VERDICT r4 #1 demanded training move OUT of serving):
    * the first ANN query of a run fits k-means ONCE
    * ([[Similarity.kmeansFit]], k=8, 2 Lloyd iterations), persists the
    * centroid table, assigns every corpus row to its cell (map-only
    * [[Similarity.assignCells]]) and writes the corpus CELL-PARTITIONED
    * ([[Store.writePartitioned]] — the directory layout
    * [[graft.streaming.IncrementalIndex.updateDenseIndex]] maintains
    * incrementally as new embeddings land). Every later ANN query reads the
    * artifacts: the centroid probe is driver-scale (k rows) and the corpus
    * scan prunes to the probed cells' PARTITIONS. Serving never trains. */
  private[graft] object DenseArtifacts {
    def ivf(s: SparkSession, dir: String): Similarity.DenseIndex = {
      // variant bumped r15: the build grew the binary signature store +
      // its calibrated default_kcoarse_bq param — a pre-bump cache dir
      // would read-miss the new artifacts
      val p = ArtifactMemo.root(dir, "ivf-bq")
      def read = {
        val params = s.read.parquet(s"$p/params").head
        Similarity.DenseIndex(
          centroids = s.read.parquet(s"$p/centroids"),
          cells = s.read.parquet(s"$p/cells"),
          codebooks = s.read.parquet(s"$p/codebooks"),
          codes = s.read.parquet(s"$p/codes"),
          cellStats = Some(s.read.parquet(s"$p/cellstats")),
          defaultNprobe = Some(params.getAs[Int]("default_nprobe")),
          radii = Some(s.read.parquet(s"$p/radii")),
          int8 = Some(s.read.parquet(s"$p/int8")),
          binary = Some(s.read.parquet(s"$p/bin")),
          defaultKCoarseBq = Some(params.getAs[Int]("default_kcoarse_bq")))
      }
      ArtifactMemo(s, p) {
        // geometry pinned explicitly (NOT IvfParams.auto) because the
        // oracle SQL unrolls the training at exactly k=8 cells / 16 codes;
        // production callers omit params and get the k ~ sqrt(N) sizing.
        // statsCols=label: the per-(cell, label) admissible histogram the
        // adaptive probe planner reads instead of a per-request corpus pass.
        // calibrateRecall: the persisted serving default is measured
        // against these artifacts (recall@20 >= 0.8), not the corpus-blind
        // nlist/16 rule — RecallProbeSpec pins the floor.
        Similarity.buildDenseIndex(t(s, dir, "embeddings"), p,
          Some(Similarity.IvfParams(
            nlist = 8, lloydIters = 2, numSub = 8, subDim = 8,
            numCentroids = 16, pqIters = 1, defaultNprobe = 2)),
          statsCols = Seq("label"),
          calibrateRecall = Some(0.8))
      }(read)
    }

    /** Memoized two-level coarse hierarchy over [[ivf]]'s fitted centroid
      * table ([[Similarity.buildCoarseHierarchy]] at groups=3 / 2 Lloyd
      * iterations — the geometry [[coarse2Ctes]] unrolls in SQL).
      * `sim_ivf_twolevel` probes and serves through it; the production
      * build emits the same artifact automatically past
      * [[Similarity.HierarchyMinNlist]] cells and the facade dispatches
      * on its presence. */
    def hierarchy(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
      val p = ArtifactMemo.root(dir, "coarse2h")
      def read = (s.read.parquet(s"$p/l1"), s.read.parquet(s"$p/l2"))
      ArtifactMemo(s, p) {
        Similarity.buildCoarseHierarchy(ivf(s, dir).centroids, p,
          groups = 3, lloydIters = 2)
      }(read)
    }

    /** Memoized k=32 coarse fit — same salt/rounding/iterations as
      * [[ivf]]'s k=8 layer, only the init `LIMIT` differs (oracle =
      * [[ivfCellCtesK]](32)). This is the AUTO-SHAPED blocking geometry
      * for `q39b_semdedup_auto`: cells ~N/32 instead of ~N/8, so the
      * within-cell candidate volume (the q39 scaling table's one
      * quadratic term) shrinks ~16x. Centroids only — the semdedup
      * chain assigns and pairs from them; no PQ/serving legs. */
    def kmeans32(s: SparkSession, dir: String): DataFrame = {
      val p = ArtifactMemo.root(dir, "kmeans32")
      def read = s.read.parquet(s"$p/centroids")
      ArtifactMemo(s, p) {
        val c = Similarity.kmeansFit(t(s, dir, "embeddings"), k = 32, iters = 2)
        Store.writeSingle(c, s"$p/centroids")
        c.unpersist()
        read
      }(read)
    }
  }

  /** Per-JVM memoized PCA fit over the `embeddings` table — fit ONCE
    * ([[Similarity.pcaPowerFit]], 4 rounds, the geometry the oracle SQL
    * unrolls), persist the component table AND the packed per-row
    * projections; every PCA query reads the artifacts (the
    * load-don't-refit convention every fitted index here follows). The
    * projections table is the coarse-serving artifact: m doubles per row
    * instead of d floats — the byte economics that make the two-stage
    * path pay at scale. */
  private[graft] object PcaArtifacts {
    case class Pca(components: DataFrame, projections: DataFrame)
    def fit(s: SparkSession, dir: String): Pca = {
      val p = ArtifactMemo.root(dir, "pca")
      def read = Pca(
        components = s.read.parquet(s"$p/components"),
        projections = s.read.parquet(s"$p/projections"))
      ArtifactMemo(s, p) {
        val emb = t(s, dir, "embeddings")
        Store.writeSingle(Similarity.pcaPowerFit(emb, "embedding", iters = 4),
          s"$p/components")
        Store.writer(Similarity.pcaProjectPacked(emb,
            s.read.parquet(s"$p/components").select(col("pos"), col("pc"))))
          .option("compression", "zstd").parquet(s"$p/projections")
        read
      }(read)
    }
  }

  /** OPQ-style rotated-PQ artifacts (Ge et al. 2013 / FAISS OPQMatrix;
    * VERDICT r9 #7): the top-16 principal basis fitted once
    * ([[Similarity.pcaTopComponents]] — rotate + truncate, the
    * OPQ-with-dimension-reduction form), components dealt across the 4×4
    * sub-quantizers by EIGENVALUE ALLOCATION
    * ([[Similarity.rotateVectors]] `allocate`), codebooks Lloyd-refined
    * and the corpus encoded in the rotated coordinates. Build-once per
    * dataset dir like every fitted index here; the measured distortion
    * economics (allocated rotation 0.43× the raw-coordinate distortion at
    * the same code budget) and the score-neutrality of the rotation are
    * pinned in `OpqSpec`. */
  private[graft] object OpqArtifacts {
    case class Opq(rotation: DataFrame, codebooks: DataFrame, codes: DataFrame)
    val (numSub, subDim, numCodes) = (4, 4, 16)
    def build(s: SparkSession, dir: String): Opq = {
      val p = ArtifactMemo.root(dir, "opq")
      def read = Opq(
        rotation = s.read.parquet(s"$p/rotation"),
        codebooks = s.read.parquet(s"$p/codebooks"),
        codes = s.read.parquet(s"$p/codes"))
      ArtifactMemo(s, p) {
        val emb = t(s, dir, "embeddings")
        Store.writeSingle(Similarity.pcaTopComponents(emb, "embedding",
            m = numSub * subDim, iters = 6), s"$p/rotation")
        val rotated = Similarity.rotateVectors(emb,
          s.read.parquet(s"$p/rotation"), allocate = Some((numSub, subDim)))
        val cb = Similarity.pqRefineCodebooks(rotated,
          Similarity.pqCodebooks(rotated, numSub, subDim, numCodes),
          numSub, subDim, iters = 2)
        Store.writeSingle(cb, s"$p/codebooks")
        cb.unpersist()
        Store.writer(Similarity.pqEncode(rotated, s.read.parquet(s"$p/codebooks"),
            numSub, subDim))
          .option("compression", "zstd").parquet(s"$p/codes")
        read
      }(read)
    }
  }

  /** Persisted MinHash signature index over `documents` — the batch
    * half of the signature store the incremental streaming path
    * maintains ([[graft.streaming.IncrementalIndex]] lands the same two
    * tables batch by batch): `shingle_hashes` = (id, hv) distinct 8-byte
    * shingle keys, `buckets` = (id, band, bucket) LSH bands. Built ONCE
    * per dataset dir (one corpus tokenize); every minhash-family query
    * serves from the artifacts via
    * [[graft.operators.Dedup.minhashLshPairsFromIndex]] — values
    * identical to the one-shot pipeline (the artifacts are its
    * intermediates), so the recompute-everything oracles are unchanged. */
  private[graft] object MinhashArtifacts {
    case class Mh(hashes: DataFrame, buckets: DataFrame)
    def build(s: SparkSession, dir: String): Mh = {
      val p = ArtifactMemo.root(dir, "minhash")
      def read = Mh(
        hashes = s.read.parquet(s"$p/shingle_hashes"),
        buckets = s.read.parquet(s"$p/buckets"))
      ArtifactMemo(s, p) {
        val docs = t(s, dir, "documents")
        Store.writer(Dedup.shingles(docs, "doc_id", "text")
            .select(col("id"), Dedup.hash60(col("s")).as("hv")))
          .option("compression", "zstd").parquet(s"$p/shingle_hashes")
        Store.writer(Dedup.minhashBucketsFromHashes(
            s.read.parquet(s"$p/shingle_hashes"), 16, 2))
          .option("compression", "zstd").parquet(s"$p/buckets")
        read
      }(read)
    }
    def pairs(s: SparkSession, dir: String): DataFrame = {
      val mh = build(s, dir)
      Dedup.minhashLshPairsFromIndex(mh.hashes, mh.buckets)
    }
  }

  /** Persisted SimHash fingerprint table over `documents` — the same
    * fit-once discipline as [[MinhashArtifacts]]: the 63-bit fingerprint
    * is one corpus tokenize + one shuffle to build and is read by both
    * simhash queries (and any banded pairing) instead of being refit
    * per query. */
  private[graft] object SimhashArtifacts {
    def fingerprints(s: SparkSession, dir: String): DataFrame = {
      val p = ArtifactMemo.root(dir, "simhash")
      def read = s.read.parquet(s"$p/fingerprints")
      ArtifactMemo(s, p) {
        Store.writer(Dedup.simhash(t(s, dir, "documents"), "doc_id", "text"))
          .option("compression", "zstd").parquet(s"$p/fingerprints")
        read
      }(read)
    }
  }

  /** REDUCED-m OPQ twin artifacts (VERDICT r10 #1): the same
    * rotate → allocate → Lloyd-refine → encode code path as
    * [[OpqArtifacts]] at the smallest geometry — 2 components
    * (one rank-1 deflation, [[opqDeflateCtes]](2)), 4 power rounds per
    * component, 2×1 sub-quantizers, ONE Lloyd refinement. Kept as the
    * cheap canary of the generator family now that the full
    * 16-component `sim_opq_adc` is oracle-backed directly. */
  private[graft] object OpqM2Artifacts {
    val (numSub, subDim, numCodes) = (2, 1, 16)
    def build(s: SparkSession, dir: String): OpqM4Artifacts.Opq =
      OpqM4Artifacts.build(s, dir, numSub, "opq-m2")
  }

  /** The m=4 sibling of [[OpqM2Artifacts]] (VERDICT r14 #8): 4 principal
    * components (THREE rank-1 deflations — each an independent re-run of
    * the rounded power chain on a twice-deflated gram, exercising the
    * deflation recursion the m=2 pin can't), 4×1 sub-quantizers, one
    * Lloyd refinement. Same code path as the full 16-component
    * `sim_opq_adc`; oracle = [[opqDeflateCtes]](4) + [[opqCodesCtes]](4). */
  private[graft] object OpqM4Artifacts {
    case class Opq(rotation: DataFrame, codebooks: DataFrame, codes: DataFrame)
    val (numSub, subDim, numCodes) = (4, 1, 16)
    def build(s: SparkSession, dir: String): Opq = build(s, dir, numSub, "opq-m4")
    /** Parametric form (VERDICT r15 #6): the m=8 pin reuses the same
      * fit/encode chain at 8×1 geometry — SEVEN rank-1 deflations. */
    def build(s: SparkSession, dir: String, m: Int, variant: String): Opq = {
      val p = ArtifactMemo.root(dir, variant)
      def read = Opq(
        rotation = s.read.parquet(s"$p/rotation"),
        codebooks = s.read.parquet(s"$p/codebooks"),
        codes = s.read.parquet(s"$p/codes"))
      ArtifactMemo(s, p) {
        val emb = t(s, dir, "embeddings")
        Store.writeSingle(Similarity.pcaTopComponents(emb, "embedding",
            m = m * subDim, iters = 4), s"$p/rotation")
        val rotated = Similarity.rotateVectors(emb,
          s.read.parquet(s"$p/rotation"), allocate = Some((m, subDim)))
        val cb = Similarity.pqRefineCodebooks(rotated,
          Similarity.pqCodebooks(rotated, m, subDim, numCodes),
          m, subDim, iters = 1)
        Store.writeSingle(cb, s"$p/codebooks")
        cb.unpersist()
        Store.writer(Similarity.pqEncode(rotated, s.read.parquet(s"$p/codebooks"),
            m, subDim))
          .option("compression", "zstd").parquet(s"$p/codes")
        read
      }(read)
    }
  }

  /** Deterministic d=768 expansion of the d=64 `embeddings` table — the
    * shared arithmetic of the production-dimensionality serving oracles
    * (`sim_ivf_d768`, `sim_ivfpq_d768`) and their DuckDB `e768` CTEs:
    * position gather (j*7) mod 64, per-position scale (1 + j mod 5)/3,
    * float cast. Identical in both engines, so downstream hash compares
    * pin REAL d=768 numerics, not a lucky low-d coincidence. */
  private[graft] def expand768(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      expr("transform(sequence(0, 767), j -> " +
        "cast(element_at(embedding, cast((j*7) % 64 + 1 as int)) * " +
        "((1 + j % 5) / 3.0d) as float))").as("embedding"))

  /** Production-dimensionality IVF-PQ store (VERDICT r11 next-round #1):
    * the persisted-codes quantized serving artifacts at d=768 — the
    * dimensionality of create_bin.ipynb's flat 768-dim CLIP indexes
    * (IVF-PQ is the scale-up this framework adds at that d) — where
    * until now every hash-checked quantized query ran at the synthetic
    * d=64. Geometry is the FAISS-realistic 8×96 (16 codes, hash-sampled
    * init + ONE Lloyd refinement); coarse layer = the `sim_ivf_d768`
    * hash-sampled 4-cell init, cells and codes cell-PARTITIONED exactly
    * like the d=64 `buildDenseIndex` layout so serving takes the same
    * PartitionFilters-pruned path. Build-once per dataset dir. */
  private[graft] object D768Artifacts {
    case class Ivfpq(centroids: DataFrame, cells: DataFrame,
        codebooks: DataFrame, codes: DataFrame, int8: DataFrame,
        bin: DataFrame)
    val (numSub, subDim, numCodes) = (8, 96, 16)
    def build(s: SparkSession, dir: String): Ivfpq = {
      // variant bumped when the artifact SET grew (round 13 added the
      // int8 store, round 14 the binary signature store): a pre-bump
      // cache dir would read-miss the new store
      val p = ArtifactMemo.root(dir, "ivfpq-d768-sq8-bin")
      def read = Ivfpq(
        centroids = s.read.parquet(s"$p/centroids"),
        cells = s.read.parquet(s"$p/cells"),
        codebooks = s.read.parquet(s"$p/codebooks"),
        codes = s.read.parquet(s"$p/codes"),
        int8 = s.read.parquet(s"$p/int8"),
        bin = s.read.parquet(s"$p/bin"))
      ArtifactMemo(s, p) {
        val e768 = expand768(t(s, dir, "embeddings"))
        val hw = Window.orderBy(col("__h"), col("vec_id"))
        Store.writeSingle(e768
          .select(col("vec_id"), col("embedding"), Dedup.hash60(
            concat(lit("c768:"), col("vec_id").cast("string"))).as("__h"))
          .orderBy(col("__h"), col("vec_id")).limit(4)
          .select((row_number().over(hw) - 1).cast("int").as("cluster"),
            col("embedding").as("cv")), s"$p/centroids")
        Store.writePartitioned(
          Similarity.assignCells(e768, s.read.parquet(s"$p/centroids")),
          s"$p/cells", "cluster")
        val cells = s.read.parquet(s"$p/cells")
        val cb = Similarity.pqRefineCodebooks(cells,
          Similarity.pqCodebooks(cells, numSub, subDim, numCodes),
          numSub, subDim, iters = 1)
        Store.writeSingle(cb, s"$p/codebooks")
        cb.unpersist()
        Store.writePartitioned(
          Similarity.pqEncode(cells, s.read.parquet(s"$p/codebooks"),
            numSub, subDim, carry = Seq("cluster")),
          s"$p/codes", "cluster")
        // SQ8 sibling store at d=768 (round 13): byte-per-dim, same cell
        // partitioning — the [[Similarity.ivfInt8RefineSearch]] artifact.
        // At this expansion coordinates DO exceed |1| (scale up to 5/3),
        // so the saturation clamp is genuinely exercised by the oracle.
        Store.writePartitioned(
          Similarity.int8EncodeCells(cells), s"$p/int8", "cluster")
        // BINARY sibling store at d=768 (round 14): 12 packed BIGINT
        // words per row (96 bytes vs 3072 float), same cell partitioning
        // — the [[Similarity.ivfBinaryRefineSearch]] artifact. d=768
        // exercises genuinely multi-word signatures (the d=64 base
        // table packs to a single word).
        Store.writePartitioned(
          Similarity.binaryEncodeCells(cells), s"$p/bin", "cluster")
        read
      }(read)
    }
  }

  /** Skew-mitigated IVF layout (VERDICT r6 #7): a DELIBERATELY skewed cell
    * assignment — 80% of the corpus in cell 0, the Zipf-ish hot-cell shape
    * real embeddings produce — split by
    * [[Similarity.splitOversizedCells]] (cells above 25% of the corpus
    * re-cluster into 4 sub-cells under fresh ids) and persisted
    * cell-PARTITIONED like the primary dense index. Serving code is
    * unchanged over the split layout ([[Similarity.ivfSearchPruned]] etc.);
    * probing the hot region now opens sub-cell-sized partitions. Built
    * once per dataset dir; `sim_ivf_skew_split` oracle-checks that the
    * split layout loses/duplicates no rows (full probe == exact top-k) and
    * `SkewCellSpec` measures the pruning win. */
  private[graft] object SkewArtifacts {
    case class SplitIndex(centroids: DataFrame, cells: DataFrame)
    def split(s: SparkSession, dir: String): SplitIndex = {
      val p = ArtifactMemo.root(dir, "ivf-split")
      def read = SplitIndex(
        centroids = s.read.parquet(s"$p/centroids"),
        cells = s.read.parquet(s"$p/cells"))
      ArtifactMemo(s, p) {
        val emb = t(s, dir, "embeddings")
        val skewed = emb.withColumn("cluster",
          when(col("vec_id") % 10 < 8, lit(0))
            .otherwise((col("vec_id") % 10).cast("int")))
        val cents = Similarity.centroids(skewed, "cluster", "embedding")
          .select(col("cluster").cast("int").as("cluster"), col("cv"))
        val total = emb.count()
        val (cents2, cells2) = Similarity.splitOversizedCells(
          skewed, cents, maxCellRows = total / 4, subK = 4)
        Store.writeSingle(cents2, s"$p/centroids")
        Store.writePartitioned(cells2, s"$p/cells", "cluster")
        read
      }(read)
    }
  }

  /** Per-JVM memoized dense store WITH TOMBSTONED DELETES — the
    * right-to-be-forgotten serving shape a production index needs (takedown
    * or contamination removal cannot rewrite a 100 TB store). Built through
    * the REAL maintenance machinery: the corpus lands as an incremental
    * batch ([[graft.streaming.IncrementalIndex.updateDenseIndex]] against
    * the fitted centroids), a delete sweep tombstones every 7th id
    * ([[graft.streaming.IncrementalIndex.deleteFromDenseIndex]] — one
    * atomic subtree beside the store, no rewrite), and serving reads the
    * MASKED store ([[graft.streaming.IncrementalIndex.loadDenseStore]] —
    * the broadcast anti-join every pruned path already uses for
    * `excludeIds`). `sim_ann_post_delete` serves at FULL probe so the
    * result is exact over survivors and the DuckDB oracle is just the id
    * filter — no index unrolling. */
  private[graft] object DeleteArtifacts {
    import graft.streaming.IncrementalIndex
    case class Deleted(cells: DataFrame, centroids: DataFrame, radii: DataFrame)
    def store(s: SparkSession, dir: String): Deleted = {
      val p = ArtifactMemo.root(dir, "ivfdel")
      val cents = DenseArtifacts.ivf(s, dir).centroids
      def read = Deleted(IncrementalIndex.loadDenseStore(s, s"$p/cells"), cents,
        IncrementalIndex.loadRadii(s, s"$p/radii"))
      ArtifactMemo(s, p) {
        val hadoop = s.sparkContext.hadoopConfiguration
        // the landing write must be IDEMPOTENT ACROSS JVMS: an overwrite
        // would land the same rows under fresh file names and the
        // checkpointed file source would ingest them as a duplicate batch —
        // write only when no completed landing exists
        val success = new org.apache.hadoop.fs.Path(s"$p/landing/_SUCCESS")
        val fs = success.getFileSystem(hadoop)
        if (!fs.exists(success))
          Store.writer(t(s, dir, "embeddings")).parquet(s"$p/landing")
        // layout-upgrade guard: a store ingested before the radii leg
        // existed has cells but no delta dir, and a checkpointed re-run is
        // a no-op — wipe the derived stores (never the landing source) so
        // the ingest replays with every leg in lockstep
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$p/radii")) &&
            fs.exists(new org.apache.hadoop.fs.Path(s"$p/cells")))
          Seq("cells", "ckpt", "cellstats").foreach(d =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$p/$d"), true))
        IncrementalIndex.updateDenseIndex(s, s"$p/landing", s"$p/cells",
          s"$p/ckpt", cents,
          statsCols = Seq("label"), statsDir = Some(s"$p/cellstats"),
          radiiDir = Some(s"$p/radii"))
        IncrementalIndex.deleteFromDenseIndex(s, s"$p/cells",
          t(s, dir, "embeddings").filter(col("vec_id") % 7 === 0)
            .select("vec_id"),
          statsCols = Seq("label"))
        read
      }(read)
    }
  }

  /** Flagship query (sf0.001): the full `/textsearch` dual-model dataflow of
    * the reference (`app.py:300-366`) — two dense channels, per-channel
    * top-k, A1 min-max fusion, A4 group-by-"video" shaping. */
  def entry(spark: SparkSession): DataFrame =
    queries("q31_textsearch_dual")(spark, "/root/testdata/sf0.001")

  private val dec182 = DecimalType(18, 2)
  private val dec226 = DecimalType(22, 6)
  private val dec186 = DecimalType(18, 6)

  /** Shared oracle-SQL prefix: tokenization -> postings -> df -> smoothed-idf
    * tf-idf weights (sklearn formula), mirrored by [[Lexical]]. */
  private val tokSql =
    """WITH tok AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
      |            FROM documents),
      |post AS (SELECT id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY 1),
      |nn AS (SELECT COUNT(*) AS n FROM documents),
      |wgt AS (SELECT p.id, p.term, p.tf * (LN((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS w
      |        FROM post p JOIN dfreq d USING (term) CROSS JOIN nn)""".stripMargin

  /** Shared oracle-SQL prefix: distinct word-3-gram shingle sets per doc. */
  private val shingleSql =
    """WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS toks
      |            FROM documents),
      |idx AS (SELECT id, toks, unnest(generate_series(1, len(toks) - 2)) AS i FROM tok),
      |sh AS (SELECT DISTINCT id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s FROM idx)""".stripMargin

  /** Shared oracle-SQL chain: MinHash-LSH candidate pairs with exact-Jaccard
    * verification (`jac(i, j, jaccard)`), mirroring
    * [[graft.operators.Dedup.minhashLshPairs]] hash-for-hash. */
  private val minhashJacSql =
    s"""$shingleSql,
       |hx AS (SELECT id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2147483647 AS x FROM sh),
       |hs AS (SELECT id, h, x FROM hx, (SELECT unnest(generate_series(1, 16)) AS h) seeds),
       |mh AS (SELECT id, h, MIN(((2*h+1) * x + 7919*h) % 2147483647) AS mh
       |       FROM hs GROUP BY 1, 2),
       |bands AS (SELECT id, CAST(floor((h - 1) / 2) AS BIGINT) AS band,
       |                 string_agg(mh, ',' ORDER BY h) AS sig FROM mh GROUP BY 1, 2),
       |bk AS (SELECT id, band, CAST('0x' || substr(md5(sig), 1, 15) AS BIGINT) AS bucket FROM bands),
       |cand AS (SELECT DISTINCT a.id AS i, b.id AS j FROM bk a
       |         JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |shh AS (SELECT id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS hvv FROM sh),
       |sz AS (SELECT id, COUNT(*) AS n FROM shh GROUP BY 1),
       |inter AS (SELECT c.i, c.j, COUNT(*) AS cc FROM cand c
       |          JOIN shh a ON a.id = c.i JOIN shh b ON b.id = c.j AND b.hvv = a.hvv GROUP BY 1, 2),
       |jac AS (SELECT i, j, cc * 1.0 / (sa.n + sb.n - cc) AS jaccard
       |        FROM inter JOIN sz sa ON sa.id = i JOIN sz sb ON sb.id = j)""".stripMargin

  /** Shared oracle-SQL prefix: the multimodal decode STUB's deterministic
    * fake metadata — disjoint md5 substrings of the content bytes (see
    * [[graft.operators.Multimodal]]). */
  private val mmMetaSql =
    """WITH meta AS (SELECT doc_id AS id,
      |  320 + CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 1600 AS width,
      |  240 + CAST('0x' || substr(md5(text), 9, 8) AS BIGINT) % 840 AS height,
      |  1 + CAST('0x' || substr(md5(text), 17, 8) AS BIGINT) % 240 AS n_frames,
      |  (CAST('0x' || substr(md5(text), 25, 8) AS BIGINT) % 36000) / 100.0 AS duration_s
      |  FROM documents)""".stripMargin

  /** (name, spark plan, oracle SQL or None). */
  private lazy val defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- 2.1 scans / 2.2 filters+projections -------------------------------

    ("s2_scan_filter_project",
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("n_chars").between(200, 400) && col("lang").isin("en", "fr"))
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id, source, n_chars FROM documents
             |WHERE n_chars BETWEEN 200 AND 400 AND lang IN ('en','fr')
             |ORDER BY doc_id""".stripMargin)),

    ("s16_limit_page",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy(col("doc_id")).limit(100),
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
             |ORDER BY doc_id LIMIT 100""".stripMargin)),

    // ---- 2.4 aggregations --------------------------------------------------

    ("q1_agg_pricing_summary",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate").cast("date") <= lit("1998-09-02").cast("date"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast(dec182)).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast(dec182)).cast("double").as("sum_base_price"),
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec226))
              .cast("double").as("sum_disc_price"),
            (sum(col("l_quantity").cast(dec182)).cast("double") / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             |  COUNT(*) AS count_order
             |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- 2.3 joins ---------------------------------------------------------

    ("j2_join_agg_revenue",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate").cast("date") >= lit("1995-01-01").cast("date") &&
                  col("o_orderdate").cast("date") < lit("1997-01-01").cast("date"))
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec226))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
             |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    ("j3_range_join_views_before_purchase",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            (col("ts") - expr("INTERVAL 1 HOUR")).as("w_start"), col("ts").as("w_end"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts"))
        val counts = TemporalJoins
          .pointInIntervalJoin(views, col("ts"), purchases, col("w_start"), col("w_end"),
            equiKeys = Seq("user_id"))
          .groupBy(col("event_id")).agg(count(lit(1)).as("n_views"))
        purchases.select(col("event_id"))
          .join(counts, Seq("event_id"), "left")
          .withColumn("n_views", coalesce(col("n_views"), lit(0L)))
          .orderBy(col("event_id"))
      },
      Some("""SELECT p.event_id, COUNT(v.event_id) AS n_views
             |FROM events p LEFT JOIN events v
             |  ON v.user_id = p.user_id AND v.event_type = 'view'
             | AND CAST(v.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
             | AND CAST(v.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
             |WHERE p.event_type = 'purchase'
             |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin)),

    ("j4_asof_click_before_purchase",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
        TemporalJoins.asofBackward(purchases, clicks, "user_id", "ts", "ts",
            payload = Map("ts" -> "click_ts", "value" -> "click_value"))
          .select(col("event_id"), col("user_id"),
            epochMs(col("click_ts")).as("click_ms"), col("click_value"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT p.event_id, p.user_id, epoch_ms(c.ts) AS click_ms, c.value AS click_value
             |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
             |      WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
             |                WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    ("j4b_nearest2_clicks",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        TemporalJoins.nearestInTime(purchases, clicks, "user_id", "ts", "ts",
            "click_id", k = 2)
          .select(col("event_id"), col("nearest_id"), col("nearest_rank"))
          .orderBy(col("event_id"), col("nearest_rank"))
      },
      Some("""WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
             |           WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS rid FROM events
             |      WHERE event_type = 'click'),
             |cand AS (SELECT p.event_id, c.rid,
             |           ABS(epoch_us(c.ts) - epoch_us(p.ts)) AS d, c.ts AS cts
             |         FROM p JOIN c ON p.user_id = c.user_id),
             |r AS (SELECT event_id, rid, ROW_NUMBER() OVER (PARTITION BY event_id
             |        ORDER BY d, cts, rid) AS nearest_rank FROM cand)
             |SELECT event_id, rid AS nearest_id, nearest_rank FROM r
             |WHERE nearest_rank <= 2 ORDER BY event_id, nearest_rank""".stripMargin)),

    ("j5_scatter_sum_events_to_orders",
      (s, dir) => {
        val perUser = t(s, dir, "events").groupBy(col("user_id"))
          .agg(sum(col("value").cast(dec186)).cast("double").as("event_value"),
               count(lit(1)).as("n_events"))
        t(s, dir, "orders")
          .join(perUser, col("o_custkey") === col("user_id"))
          .select(col("o_orderkey"), col("event_value"), col("n_events"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH pu AS (
             |  SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS event_value,
             |         COUNT(*) AS n_events
             |  FROM events GROUP BY user_id)
             |SELECT o.o_orderkey, pu.event_value, pu.n_events
             |FROM orders o JOIN pu ON o.o_custkey = pu.user_id
             |ORDER BY o.o_orderkey""".stripMargin)),

    // ---- 2.2 semi/anti + 2.7 set ops --------------------------------------

    ("f3_semi_anti_customers",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchasers = ev.filter(col("event_type") === "purchase" && col("value") > 100)
          .select(col("user_id").as("c_custkey"))
        val errored = ev.filter(col("event_type") === "error" && col("value") > 200)
          .select(col("user_id").as("c_custkey"))
        Candidates.exclude(
            Candidates.restrictTo(t(s, dir, "customer"), purchasers, "c_custkey"),
            errored, "c_custkey")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey
             |              AND e.event_type = 'purchase' AND e.value > 100)
             |  AND NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey
             |                  AND e.event_type = 'error' AND e.value > 200)
             |ORDER BY c_custkey""".stripMargin)),

    ("u2_set_ops",
      (s, dir) => {
        val ev = t(s, dir, "events")
        def users(tp: String, minValue: Double) =
          ev.filter(col("event_type") === tp && col("value") > minValue)
            .select(col("user_id")).distinct()
        users("purchase", 100).intersect(users("signup", 100))
          .except(users("error", 150))
          .orderBy(col("user_id"))
      },
      Some("""SELECT * FROM (
             |  (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 100
             |   INTERSECT
             |   SELECT DISTINCT user_id FROM events WHERE event_type = 'signup' AND value > 100)
             |  EXCEPT
             |  SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 150) u
             |ORDER BY user_id""".stripMargin)),

    // ---- 2.5 windows / 2.6 top-k ------------------------------------------

    ("w1_window_topk_per_user",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("value").desc, col("event_id"))
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("user_id"), col("rn").cast("long").as("rn"),
            col("event_id"), col("event_type"), col("value"))
          .orderBy(col("user_id"), col("rn"))
      },
      Some("""SELECT user_id, rn, event_id, event_type, value FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
             |  FROM events) t
             |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin)),

    // same result as w1 via the typed bounded-buffer Aggregator (§2.10
    // fallback for huge groups): O(n log k) per partition, k-bounded
    // merge — vs the window's full per-group sort
    ("w1b_topk_aggregator",
      (s, dir) => {
        import s.implicits._
        val topk = new graft.functions.TopKAggregator(3).toColumn
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("value"))
          .as[(Long, Long, Double)]
          .groupByKey(_._1)
          .mapValues { case (_, id, v) => graft.functions.ScoredId(id, v) }
          .agg(topk)
          .flatMap { case (uid, top) =>
            top.zipWithIndex.map { case (e, i) => (uid, (i + 1).toLong, e.id, e.score) }
          }
          .toDF("user_id", "rn", "event_id", "value")
          .orderBy(col("user_id"), col("rn"))
      },
      Some("""SELECT user_id, rn, event_id, value FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
             |  FROM events) t
             |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin)),

    ("o1_topk_lineitems",
      (s, dir) =>
        GroupShaping.topK(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
          100, col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    // ---- 2.4 fusion (A1/A2) -----------------------------------------------

    ("a1_fusion_addition",
      (s, dir) => {
        val ch1 = t(s, dir, "orders")
          .select(col("o_orderkey").as("id"), col("o_totalprice").as("score"))
        val ch2 = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast(dec182)).cast("double").as("score"))
          .select(col("l_orderkey").as("id"), col("score"))
        Fusion.fuseByAddition(Seq(ch1, ch2))
          .select(col("id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(100)
      },
      Some("""WITH ch1 AS (SELECT o_orderkey AS id, o_totalprice AS s FROM orders),
             |ch2 AS (SELECT l_orderkey AS id,
             |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s
             |        FROM lineitem GROUP BY 1),
             |n1 AS (SELECT id, (s - MIN(s) OVER ()) / (MAX(s) OVER () - MIN(s) OVER () + 1e-6) AS s FROM ch1),
             |n2 AS (SELECT id, (s - MIN(s) OVER ()) / (MAX(s) OVER () - MIN(s) OVER () + 1e-6) AS s FROM ch2),
             |u AS (SELECT * FROM n1 UNION ALL SELECT * FROM n2)
             |SELECT id, ROUND(SUM(s), 6) AS score FROM u GROUP BY id
             |ORDER BY score DESC, id LIMIT 100""".stripMargin)),

    ("a2_fusion_legacy",
      (s, dir) => {
        val ch1 = t(s, dir, "orders")
          .select(col("o_orderkey").as("id"), col("o_totalprice").as("score"))
        val ch2 = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast(dec182)).cast("double").as("score"))
          .select(col("l_orderkey").as("id"), col("score"))
        Fusion.fuseLegacyL2(Seq(ch1, ch2))
          .select(col("id"), round(col("score"), 8).as("score"))
          .orderBy(col("score").desc, col("id"))
      },
      Some("""WITH ch1 AS (SELECT o_orderkey AS id, o_totalprice AS s FROM orders),
             |ch2 AS (SELECT l_orderkey AS id,
             |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s
             |        FROM lineitem GROUP BY 1),
             |n1 AS (SELECT id, s / (SQRT(SUM(s * s) OVER ()) + 1e-12) AS s FROM ch1),
             |n2 AS (SELECT id, s / (SQRT(SUM(s * s) OVER ()) + 1e-12) AS s FROM ch2),
             |u AS (SELECT * FROM n1 UNION ALL SELECT * FROM n2)
             |SELECT id, ROUND(MAX(s), 8) AS score FROM u GROUP BY id
             |ORDER BY score DESC, id""".stripMargin)),

    // HYBRID RRF fusion: the artifact-fed BM25 sparse leg and the persisted-
    // index IVF dense leg fused by reciprocal rank (1/(60+rank)) — the
    // calibration-free hybrid-retrieval standard. Both legs are k-bounded
    // serving results over THE SAME persisted artifacts the solo queries use
    // (documents doc_id == embeddings vec_id in the testbed id space), so
    // fusion cost is rank-windows over 2x20 rows regardless of corpus size.
    ("a8_fusion_rrf",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val sparse = Lexical.bm25SearchIndexed(s, SparseArtifacts.unigram(s, dir),
            Seq("spark", "join", "table", "scan"))
          .select(col("id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(20)
        val dense = Similarity.ivfSearchPruned(idx.cells, idx.centroids, qv,
            nprobe = 2, k = 20)
          .select(col("vec_id").as("id"), col("score"))
        Fusion.fuseByRrf(Seq(sparse, dense))
          .select(col("id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("id"))
      },
      Some(s"""$ivfCellCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |dense AS (SELECT e.vec_id AS id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |       FROM embeddings e JOIN a3 USING (vec_id) CROSS JOIN q
             |       WHERE a3.cluster IN (SELECT cluster FROM probe)
             |       ORDER BY score DESC, e.vec_id LIMIT 20),
             |tok AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '\\w+')) AS term
             |        FROM documents),
             |post AS (SELECT id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY 1),
             |nn AS (SELECT COUNT(*) AS n FROM documents),
             |dl AS (SELECT id, COUNT(*) AS dl FROM tok GROUP BY 1),
             |ad AS (SELECT SUM(dl) * 1.0 / COUNT(*) AS avgdl FROM dl),
             |idfr AS (SELECT term, LN((nn.n - df + 0.5) / (df + 0.5)) AS idf_raw
             |         FROM dfreq CROSS JOIN nn),
             |ai AS (SELECT AVG(idf_raw) AS avg_idf FROM idfr),
             |idf AS (SELECT term, CASE WHEN idf_raw < 0 THEN 0.25 * ai.avg_idf ELSE idf_raw END AS idf
             |        FROM idfr CROSS JOIN ai),
             |qt(term) AS (VALUES ('spark'), ('join'), ('table'), ('scan')),
             |bm AS (SELECT p.id, ROUND(SUM(idf.idf * (p.tf * 2.5) / (p.tf + 1.5 * (0.25 + 0.75 * dl.dl / ad.avgdl))), 6) AS score
             |       FROM post p JOIN qt USING (term) JOIN idf USING (term) JOIN dl USING (id) CROSS JOIN ad
             |       GROUP BY p.id ORDER BY score DESC, id LIMIT 20),
             |rk AS (SELECT id, 1.0 / (60 + ROW_NUMBER() OVER (ORDER BY score DESC, id)) AS c FROM bm
             |       UNION ALL
             |       SELECT id, 1.0 / (60 + ROW_NUMBER() OVER (ORDER BY score DESC, id)) AS c FROM dense)
             |SELECT id, ROUND(SUM(c), 6) AS score FROM rk
             |GROUP BY id ORDER BY score DESC, id""".stripMargin)),

    // END-TO-END HYBRID retrieval (VERDICT r6 #4): the facade's
    // hybridSearch composition — ONE per-request candidate filter honored
    // by BOTH legs (F1 pushed into the IVF scan as a semi join after
    // partition pruning; applied to the BM25 artifact read before its
    // top-k), RRF rank fusion, then A4 source-grouping of the fused list.
    // Every stage is k-bounded or artifact-pruned, so the whole pipeline
    // costs nprobe/k of the corpus + O(query-term postings) at any scale.
    ("q35_hybrid_rrf",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val docs = t(s, dir, "documents")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val allow = docs.filter(col("doc_id") % 3 =!= 1)
        val dense = Similarity.ivfSearchPruned(idx.cells, idx.centroids, qv,
            nprobe = 2, k = 20,
            restrictIds = Some(allow.select(col("doc_id").as("vec_id"))))
          .select(col("vec_id").as("id"), col("score"))
        val sparse = Lexical.bm25SearchIndexed(s, SparseArtifacts.unigram(s, dir),
            Seq("spark", "join", "table", "scan"))
          .join(allow.select(col("doc_id").as("id")), Seq("id"))
          .select(col("id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(20)
        val fused = Fusion.fuseByRrf(Seq(sparse, dense))
          .select(col("id"), round(col("score"), 6).as("score"))
        GroupShaping.groupResultsCsv(
          fused.join(docs.select(col("doc_id").as("id"), col("source")), Seq("id")),
          groupCol = "source", idCol = "id", scoreCol = "score")
      },
      Some(s"""$ivfCellCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |dense AS (SELECT e.vec_id AS id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |       FROM embeddings e JOIN a3 USING (vec_id) CROSS JOIN q
             |       WHERE a3.cluster IN (SELECT cluster FROM probe)
             |         AND e.vec_id % 3 <> 1
             |       ORDER BY score DESC, e.vec_id LIMIT 20),
             |tok AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '\\w+')) AS term
             |        FROM documents),
             |post AS (SELECT id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY 1),
             |nn AS (SELECT COUNT(*) AS n FROM documents),
             |dl AS (SELECT id, COUNT(*) AS dl FROM tok GROUP BY 1),
             |ad AS (SELECT SUM(dl) * 1.0 / COUNT(*) AS avgdl FROM dl),
             |idfr AS (SELECT term, LN((nn.n - df + 0.5) / (df + 0.5)) AS idf_raw
             |         FROM dfreq CROSS JOIN nn),
             |ai AS (SELECT AVG(idf_raw) AS avg_idf FROM idfr),
             |idf AS (SELECT term, CASE WHEN idf_raw < 0 THEN 0.25 * ai.avg_idf ELSE idf_raw END AS idf
             |        FROM idfr CROSS JOIN ai),
             |qt(term) AS (VALUES ('spark'), ('join'), ('table'), ('scan')),
             |bm AS (SELECT p.id, ROUND(SUM(idf.idf * (p.tf * 2.5) / (p.tf + 1.5 * (0.25 + 0.75 * dl.dl / ad.avgdl))), 6) AS score
             |       FROM post p JOIN qt USING (term) JOIN idf USING (term) JOIN dl USING (id) CROSS JOIN ad
             |       WHERE p.id % 3 <> 1
             |       GROUP BY p.id ORDER BY score DESC, id LIMIT 20),
             |rk AS (SELECT id, 1.0 / (60 + ROW_NUMBER() OVER (ORDER BY score DESC, id)) AS c FROM bm
             |       UNION ALL
             |       SELECT id, 1.0 / (60 + ROW_NUMBER() OVER (ORDER BY score DESC, id)) AS c FROM dense),
             |fused AS (SELECT id, ROUND(SUM(c), 6) AS score FROM rk GROUP BY id),
             |g AS (SELECT f.id, f.score, d.source FROM fused f
             |      JOIN documents d ON d.doc_id = f.id)
             |SELECT source, MAX(score) AS best_score,
             |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY score DESC, id) AS ids_csv,
             |  string_agg(CAST(CAST(ROUND(score * 1e6) AS BIGINT) AS VARCHAR), ','
             |             ORDER BY score DESC, id) AS scores_csv
             |FROM g GROUP BY source
             |ORDER BY best_score DESC, source""".stripMargin)),

    // ANN-BACKED TEMPORAL RE-QUERY (round 9): the T1 /textsearch-with-
    // filtervideo flow driven end-to-end by the INDEX-BACKED serving path
    // instead of the exact corpus scan — previous hits expand to their
    // neighbor shots (+1..+2 forwards, shot = vec_id div 5), and the
    // re-query pushes that candidate set INTO the pruned IVF scan
    // (restrictIds -> semi-join on the probed cells' partitions only);
    // results sort by the combined prev+cur key exactly like
    // temporalRequery. The oracle mirrors the WHOLE pipeline — k-means
    // fit, cell assignment, coarse probe, restricted pruned scan — so
    // the composition (expansion ∘ ANN serving ∘ combined ordering) is
    // hash-pinned, not just each stage alone.
    ("q37_temporal_ann",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val qv2 = emb.filter(col("vec_id") === 1).select(col("embedding").as("qv"))
        val prev = emb.crossJoin(broadcast(qv))
          .select(col("vec_id"),
            round(graft.functions.VectorOps.dot(col("embedding"), col("qv")), 4)
              .as("prev_score"))
          .orderBy(col("prev_score").desc, col("vec_id"))
          .limit(5)
        val hitShots = prev
          .select(expr("vec_id DIV 5").as("shot_id"), col("prev_score"))
          .groupBy(col("shot_id")).agg(max(col("prev_score")).as("prev_score"))
        val neigh = hitShots
          .select(explode(sequence(col("shot_id") + 1, col("shot_id") + 2))
            .as("shot_id"), col("prev_score"))
          .groupBy(col("shot_id")).agg(max(col("prev_score")).as("prev_score"))
        // candidate ids derive ARITHMETICALLY from the neighbor shots (no
        // corpus scan): ids outside the corpus simply never match the
        // restrict semi-join inside the pruned scan
        val cand = neigh
          .select(explode(sequence(col("shot_id") * 5, col("shot_id") * 5 + 4))
            .as("vec_id"), col("prev_score"))
          .groupBy(col("vec_id")).agg(max(col("prev_score")).as("prev_score"))
        Similarity.ivfSearchPruned(idx.cells, idx.centroids, qv2,
            nprobe = 2, k = 20,
            restrictIds = Some(cand.select(col("vec_id"))))
          .join(broadcast(cand), Seq("vec_id"))
          .select(col("vec_id"), col("score"), col("prev_score"),
            round(col("score") + col("prev_score"), 4).as("combined"))
          .orderBy(col("combined").desc, col("vec_id"))
      },
      Some(s"""$ivfCellCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |q2 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
             |prev AS (SELECT e.vec_id, ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x), 4) AS prev_score
             |         FROM embeddings e CROSS JOIN q
             |         ORDER BY prev_score DESC, vec_id LIMIT 5),
             |hs AS (SELECT vec_id // 5 AS shot_id, MAX(prev_score) AS prev_score
             |       FROM prev GROUP BY 1),
             |ns AS (SELECT unnest(generate_series(shot_id + 1, shot_id + 2)) AS shot_id,
             |              prev_score FROM hs),
             |nagg AS (SELECT shot_id, MAX(prev_score) AS prev_score FROM ns GROUP BY 1),
             |cand AS (SELECT unnest(generate_series(shot_id * 5, shot_id * 5 + 4)) AS vec_id,
             |                prev_score FROM nagg),
             |cagg AS (SELECT vec_id, MAX(prev_score) AS prev_score FROM cand GROUP BY 1),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q2.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q2),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |ann AS (SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |          FROM (SELECT unnest(e.embedding) a, unnest(q2.qv) b) y), 4) AS score
             |        FROM embeddings e JOIN a3 USING (vec_id) JOIN cagg USING (vec_id)
             |        CROSS JOIN q2
             |        WHERE a3.cluster IN (SELECT cluster FROM probe)
             |        ORDER BY score DESC, e.vec_id LIMIT 20)
             |SELECT a.vec_id, a.score, g.prev_score,
             |       ROUND(a.score + g.prev_score, 4) AS combined
             |FROM ann a JOIN cagg g USING (vec_id)
             |ORDER BY combined DESC, vec_id""".stripMargin)),

    // END-TO-END CURATION pipeline (round 8): span excision -> token-count
    // quality gate -> DSIR target-domain selection -> sequence packing, the
    // full prepare-a-training-shard flow with every stage oracle-mirrored.
    // Each stage is individually proven (dedup_substring_apply,
    // curation_dsir, curation_pack_sequences); this pins the COMPOSITION —
    // column contracts, rounding conventions, and ordering survive chaining
    ("q36_curation_e2e",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val succ = docs.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("__t2"))
        val two = docs.join(succ, Seq("doc_id"))
          .select(col("doc_id").as("id"),
            concat_ws(" ", col("text"), col("__t2")).as("text"))
        // the gated (span-excised) corpus feeds the DSIR fit (twice: counts
        // + totals), the DSIR score featurize, and the packer input — five
        // evaluations of the census pipeline without staging (r18): one
        // materialization here collapses them
        val gated = Mat.stageIfExpensive(
          Dedup.removeDuplicateSpans(two, "id", "text", k = 5)
            .select(col("id"), col("text"),
              (col("n_tokens") - col("n_dropped")).as("n_tokens"))
            .filter(col("n_tokens") >= 20))
        val target = docs.filter(col("source") === "src0")
          .select(col("doc_id").as("id"), col("text"))
        val sel = Curation.dsirSelect(gated.select(col("id"), col("text")),
          target, targetRows = 100, idCol = "id")
        Curation.packSequences(
            gated.join(sel.select(col("id")), Seq("id"), "left_semi")
              .withColumn("stream", lit("all")),
            "id", "text", budgetTokens = 256L, byCol = "stream")
          .select(col("id"), col("n_tokens"), col("bin"), col("offset_tokens"))
          .orderBy(col("id"))
      },
      Some("""WITH two AS (SELECT d1.doc_id AS id,
             |               d1.text || ' ' || d2.text AS text
             |             FROM documents d1 JOIN documents d2
             |               ON d2.doc_id = d1.doc_id + 1),
             |tok AS (SELECT id, regexp_extract_all(lower(text), '\w+') AS a FROM two),
             |idx AS (SELECT id, a, unnest(generate_series(1, len(a) - 4)) AS i
             |        FROM tok WHERE len(a) >= 5),
             |shg AS (SELECT id, i AS st, array_to_string(a[i:i+4], ' ') AS s FROM idx),
             |rk AS (SELECT id, st,
             |         ROW_NUMBER() OVER (PARTITION BY s ORDER BY id, st) AS rn FROM shg),
             |dup AS (SELECT id, st FROM rk WHERE rn > 1),
             |brk AS (SELECT id, st,
             |          CASE WHEN st - LAG(st) OVER (PARTITION BY id ORDER BY st) <= 5
             |               THEN 0 ELSE 1 END AS b FROM dup),
             |grp AS (SELECT id, st, SUM(b) OVER (PARTITION BY id ORDER BY st) AS g
             |        FROM brk),
             |spans AS (SELECT id, g, MIN(st) AS s0, MAX(st) + 4 AS s1
             |          FROM grp GROUP BY id, g),
             |tok2 AS (SELECT id, i AS pos, a[i] AS tokv
             |         FROM (SELECT id, a, unnest(generate_series(1, len(a))) AS i FROM tok)),
             |kept AS (SELECT t.id, t.pos, t.tokv FROM tok2 t
             |         WHERE NOT EXISTS (SELECT 1 FROM spans s2
             |                           WHERE s2.id = t.id AND t.pos BETWEEN s2.s0 AND s2.s1)),
             |clean AS (SELECT id, string_agg(tokv, ' ' ORDER BY pos) AS text,
             |                 COUNT(*) AS n_tokens
             |          FROM kept GROUP BY id),
             |gated AS (SELECT id, text, CAST(n_tokens AS BIGINT) AS n_tokens
             |          FROM clean WHERE n_tokens >= 20),
             |gtok AS (SELECT id, regexp_extract_all(lower(text), '\w+') AS a FROM gated),
             |bgR AS (SELECT id, CAST('0x' || substr(md5(a[i] || ' ' || a[i+1]), 1, 15) AS BIGINT)
             |               % 10000 AS b
             |        FROM (SELECT id, a, unnest(generate_series(1, len(a) - 1)) AS i FROM gtok)),
             |ttok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS a
             |         FROM documents WHERE source = 'src0'),
             |bgT AS (SELECT id, CAST('0x' || substr(md5(a[i] || ' ' || a[i+1]), 1, 15) AS BIGINT)
             |               % 10000 AS b
             |        FROM (SELECT id, a, unnest(generate_series(1, len(a) - 1)) AS i FROM ttok)),
             |cR AS (SELECT b, COUNT(*) AS c_r FROM bgR GROUP BY 1),
             |cT AS (SELECT b, COUNT(*) AS c_t FROM bgT GROUP BY 1),
             |nR AS (SELECT COUNT(*) AS n_r FROM bgR),
             |nT AS (SELECT COUNT(*) AS n_t FROM bgT),
             |model AS (SELECT cR.b,
             |            LN(((COALESCE(cT.c_t, 0) + 1.0) / (nT.n_t + 10000)) /
             |               ((cR.c_r + 1.0) / (nR.n_r + 10000))) AS llr
             |          FROM cR LEFT JOIN cT USING (b) CROSS JOIN nR CROSS JOIN nT),
             |sc AS (SELECT g2.id, CAST(SUM(CAST(llr AS DECIMAL(28,12))) AS DOUBLE) AS w
             |       FROM bgR g2 JOIN model USING (b) GROUP BY 1),
             |sel AS (SELECT id FROM sc ORDER BY ROUND(w, 6) DESC, id LIMIT 100),
             |p0 AS (SELECT g3.id, g3.n_tokens FROM gated g3 JOIN sel USING (id)),
             |pc AS (SELECT id, n_tokens,
             |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
             |       FROM p0)
             |SELECT id, n_tokens, cum // 256 AS bin, cum % 256 AS offset_tokens
             |FROM pc ORDER BY id""".stripMargin)),

    // ---- 2.4 A4 group shaping ---------------------------------------------

    ("a4_group_shape_flat",
      (s, dir) => {
        val top = GroupShaping.topK(t(s, dir, "orders"), 50,
          col("o_totalprice"), col("o_orderkey"))
        val w = Window.partitionBy(col("o_orderkey"))
          .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
        t(s, dir, "lineitem")
          .join(broadcast(top), col("l_orderkey") === col("o_orderkey"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("o_orderkey"), col("o_totalprice"), col("rnk").cast("long").as("rnk"),
            col("l_partkey"), col("l_extendedprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"), col("rnk"))
      },
      Some("""WITH top AS (SELECT o_orderkey, o_totalprice FROM orders
             |            ORDER BY o_totalprice DESC, o_orderkey LIMIT 50)
             |SELECT o_orderkey, o_totalprice, rnk, l_partkey, l_extendedprice FROM (
             |  SELECT t.o_orderkey, t.o_totalprice, l.l_partkey, l.l_extendedprice,
             |         ROW_NUMBER() OVER (PARTITION BY t.o_orderkey
             |           ORDER BY l.l_extendedprice DESC, l.l_linenumber) AS rnk
             |  FROM lineitem l JOIN top t ON l.l_orderkey = t.o_orderkey) x
             |WHERE rnk <= 3 ORDER BY o_totalprice DESC, o_orderkey, rnk""".stripMargin)),

    ("a4_group_video_nested",
      (s, dir) =>
        GroupShaping.groupResultsCsv(
          t(s, dir, "events").select(col("user_id"), col("event_id"), col("value")),
          groupCol = "user_id", idCol = "event_id", scoreCol = "value"),
      Some("""SELECT user_id, MAX(value) AS best_score,
             |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY value DESC, event_id) AS ids_csv,
             |  string_agg(CAST(CAST(ROUND(value * 1e6) AS BIGINT) AS VARCHAR), ','
             |             ORDER BY value DESC, event_id) AS scores_csv
             |FROM events GROUP BY user_id
             |ORDER BY best_score DESC, user_id""".stripMargin)),

    // ---- J1/F1 dense k-NN --------------------------------------------------

    ("j1_knn_dense",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.scoreAll(emb, qv)
          .select(col("vec_id"), round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(20)
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT e.vec_id,
             |  ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) AS a, unnest(q.qv) AS b) x), 4) AS score
             |FROM embeddings e CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // batch kNN: FIVE queries answered in ONE corpus pass (queries
    // broadcast, per-query top-k via ranking window / WindowGroupLimit) —
    // the request-batching shape that amortizes the scan at serving time
    ("j1b_knn_batch",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2, 3, 4))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.knnBatch(emb, queries, k = 5)
          .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
      },
      Some("""WITH qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |            WHERE vec_id IN (0, 1, 2, 3, 4)),
             |scored AS (SELECT s.query_id, e.vec_id,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(s.qv) b) x), 4) AS sim
             |  FROM embeddings e CROSS JOIN qs s),
             |rk AS (SELECT query_id, vec_id, sim, ROW_NUMBER() OVER (
             |         PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
             |       FROM scored)
             |SELECT query_id, vec_id, sim FROM rk WHERE rn <= 5
             |ORDER BY query_id, sim DESC, vec_id""".stripMargin)),

    ("f1_knn_candidate_filter",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val ignore = emb.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
        val cand = Candidates.exclude(emb.filter(col("label").isin(1, 3)), ignore, "vec_id")
        Similarity.scoreAll(cand, qv)
          .select(col("vec_id"), round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(20)
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT e.vec_id,
             |  ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) AS a, unnest(q.qv) AS b) x), 4) AS score
             |FROM embeddings e CROSS JOIN q
             |WHERE e.label IN (1, 3) AND NOT (e.vec_id % 7 = 3)
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // FILTERED ANN (VERDICT r6 #1): the reference pushes per-request id
    // filters INTO every index search (`IDSelectorArray`,
    // faiss_processing.py:154-166; app.py:313-328 assembles them) — here
    // the allow/deny id sets compose with the IVF serving path as
    // broadcast semi/anti joins applied AFTER the literal PartitionFilters
    // pruning (PlanShapeSpec asserts both survive in one plan): scan cost
    // stays nprobe/k of the corpus ∩ the candidate set
    ("f1b_knn_ann_filtered",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val allow = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
        val ignore = emb.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
        Similarity.ivfSearchPruned(idx.cells, idx.centroids, qv,
          nprobe = 2, k = 20,
          restrictIds = Some(allow), excludeIds = Some(ignore))
      },
      Some(s"""$ivfCellCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN a3 USING (vec_id) CROSS JOIN q
             |WHERE a3.cluster IN (SELECT cluster FROM probe)
             |  AND e.vec_id % 3 = 0 AND NOT (e.vec_id % 7 = 3)
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // BLOOM-restricted filtered ANN (round 9): the same pruned IVF scan
    // with the candidate set applied as a hand-planted RUNTIME FILTER
    // (Candidates.restrictToScalable) instead of a broadcast semi-join —
    // the scale path when the allow-list is metadata-predicate-sized
    // (millions of ids): a ~10-bits/id bloom prunes map-side inside the
    // scan stage, the exact semi-join sees only the survivors. No false
    // negatives, so the oracle is the SAME query as the broadcast form
    ("f1f_knn_ann_bloom",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val allow = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
        val probed = Similarity.probe(idx.centroids, None, Similarity.singleQuery(qv),
          None, nprobe = 2).flatMap(_._2)
        val pruned = idx.cells.filter(col("cluster").isin(probed: _*))
        Similarity.scoreAll(
            Candidates.restrictToScalable(pruned, allow, "vec_id"),
            qv, "vec_id", "embedding")
          .select(col("vec_id"), round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("vec_id").asc)
          .limit(20)
      },
      Some(s"""$ivfCellCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN a3 USING (vec_id) CROSS JOIN q
             |WHERE a3.cluster IN (SELECT cluster FROM probe)
             |  AND e.vec_id % 3 = 0
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // filtered ANN on the IVF-PQ leg: the same IDSelectorArray composition
    // over the persisted CODES — the candidate semi/anti joins restrict the
    // pruned M-byte code scan, so the ADC shortlist only ever contains
    // admissible ids (a post-filter would instead silently return < k rows)
    ("f1c_ivfpq_ann_filtered",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val allow = emb.filter(col("vec_id") % 2 === 0).select(col("vec_id"))
        val ignore = emb.filter(col("vec_id") % 5 === 1).select(col("vec_id"))
        Similarity.ivfPqSearchPruned(
          idx.codes, idx.codebooks, idx.centroids, qv, nprobe = 2, k = 20,
          restrictIds = Some(allow), excludeIds = Some(ignore))
      },
      Some(s"""$ivfCellCtes,
             |$pqRefinedCbCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |dist AS (SELECT s.id, s.m, cbr.c,
             |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
             |     FROM (SELECT unnest(s.sv) a, unnest(cbr.cbv) b) x) AS d
             |  FROM sub s JOIN a3 ON a3.vec_id = s.id
             |  JOIN probe p ON a3.cluster = p.cluster
             |  JOIN cbr USING (m)
             |  WHERE s.id % 2 = 0 AND NOT (s.id % 5 = 1)),
             |code AS (SELECT id, m, c AS code FROM (
             |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
             |    FROM dist) WHERE rn = 1),
             |qtab AS (SELECT cbr.m, cbr.c,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(cbr.cbv) a, unnest(q.qv[cbr.m*8+1 : cbr.m*8+8]) b) x) AS p
             |  FROM cbr CROSS JOIN q),
             |sc AS (SELECT id, CAST(SUM(CAST(p AS DECIMAL(18,12))) AS DOUBLE) AS score
             |       FROM code JOIN qtab ON code.m = qtab.m AND code.code = qtab.c
             |       GROUP BY id)
             |SELECT id AS vec_id, ROUND(score, 6) AS score FROM sc
             |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin)),

    // ADAPTIVE filtered ANN, ARTIFACT-FED (VERDICT r6 #1): a fixed nprobe
    // under a selective filter silently under-fills k (the probed cells
    // hold too few admissible ids). The probe depth is sized from the
    // PERSISTED per-(cell, label) histogram — built once by
    // buildDenseIndex, nlist x |labels| rows — filtered by the request's
    // label predicate: probe the minimal centroid-score-ordered prefix of
    // cells whose cumulative admissible count reaches k. With label=3
    // (~10% of the corpus) the probe escalates well past the default
    // nprobe=2, and the PLANNING pass reads ZERO corpus bytes (asserted in
    // PlanShapeSpec) — the per-request (id, cluster) counting pass is gone.
    // The oracle pins the same prefix-by-cumulative-count rule in SQL
    // (the histogram is definitionally the grouped count of the cell
    // assignment, which the a3 CTE replays)
    ("f1d_knn_ann_adaptive",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfSearchAdaptivePruned(idx.cells, idx.centroids, qv, k = 20,
          cellStats = idx.cellStats, admissible = Some(col("label") === 3))
      },
      Some(s"""$ivfCellCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |adm AS (SELECT a3.cluster, COUNT(*) AS cnt
             |        FROM a3 JOIN embeddings e USING (vec_id)
             |        WHERE e.label = 3
             |        GROUP BY a3.cluster),
             |rkc AS (SELECT cs.cluster, COALESCE(adm.cnt, 0) AS cnt,
             |               ROW_NUMBER() OVER (ORDER BY cs.cscore DESC, cs.cluster) AS rk
             |        FROM cs LEFT JOIN adm USING (cluster)),
             |cum AS (SELECT cluster, rk, SUM(cnt) OVER (ORDER BY rk) AS cum FROM rkc),
             |lmin AS (SELECT COALESCE(MIN(CASE WHEN cum >= 20 THEN rk END), MAX(rk)) AS l
             |         FROM cum),
             |probe AS (SELECT cluster FROM cum CROSS JOIN lmin WHERE rk <= l)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN a3 USING (vec_id) CROSS JOIN q
             |WHERE a3.cluster IN (SELECT cluster FROM probe)
             |  AND e.label = 3
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // BATCH adaptive filtered ANN from the same histogram artifact
    // (VERDICT r6 #7): three queries, each planning its own minimal probe
    // prefix from ONE shared histogram collect, served by ONE scan of the
    // union of probed partitions with the label predicate pushed into the
    // pruned scan — fixed-nprobe batch serving under-fills k identically
    // to the single-query form, so the batch path reuses the same
    // cumulative-count rule per query
    ("f1e_knn_batch_adaptive",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.ivfSearchBatchAdaptive(idx.cells, idx.centroids, queries,
            k = 10, cellStats = idx.cellStats.get,
            admissible = Some(col("label") === 3))
          .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
      },
      Some(s"""$ivfCellCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |adm AS (SELECT a3.cluster, COUNT(*) AS cnt
             |        FROM a3 JOIN embeddings e USING (vec_id)
             |        WHERE e.label = 3
             |        GROUP BY a3.cluster),
             |rkc AS (SELECT cs.query_id, cs.cluster, COALESCE(adm.cnt, 0) AS cnt,
             |               ROW_NUMBER() OVER (PARTITION BY cs.query_id
             |                 ORDER BY cs.cscore DESC, cs.cluster) AS rk
             |        FROM cs LEFT JOIN adm USING (cluster)),
             |cum AS (SELECT query_id, cluster, rk,
             |               SUM(cnt) OVER (PARTITION BY query_id ORDER BY rk) AS cum
             |        FROM rkc),
             |lmin AS (SELECT query_id,
             |                COALESCE(MIN(CASE WHEN cum >= 10 THEN rk END), MAX(rk)) AS l
             |         FROM cum GROUP BY query_id),
             |probe AS (SELECT cum.query_id, cum.cluster
             |          FROM cum JOIN lmin USING (query_id) WHERE rk <= l),
             |scored AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster
             |  JOIN qs q ON q.query_id = p.query_id
             |  WHERE e.label = 3),
             |rk2 AS (SELECT query_id, vec_id, sim, ROW_NUMBER() OVER (
             |          PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM scored)
             |SELECT query_id, vec_id, sim FROM rk2 WHERE rn <= 10
             |ORDER BY query_id, sim DESC, vec_id""".stripMargin)),

    // ADAPTIVE filtered ANN planned THROUGH the two-level hierarchy
    // (VERDICT r17 #3 — the last flat-probing planner): the flat form
    // ranks ALL cells per request, which at big nlist re-materializes the
    // centroid scan the hierarchy exists to avoid. Here the planner ranks
    // the sqrt-scale L1 groups, opens an exponentially growing prefix
    // (1, 2, 4, ... groups, starting at the supplied hint) until the
    // opened groups' histogram-admissible count reaches k, then applies
    // the SAME minimal-prefix rule over the opened cells' ranking. The
    // oracle replays the growth ladder, the opened-cell ranking and the
    // cumulative-count cut in SQL — a filter that exhausts every group
    // degenerates to f1d's flat plan by construction.
    ("f1g_knn_adaptive_twolevel",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val (l1, l2) = DenseArtifacts.hierarchy(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfSearchAdaptivePruned(idx.cells, idx.centroids, qv, k = 20,
          cellStats = idx.cellStats, admissible = Some(col("label") === 3),
          hierarchy = Some((l1, l2)), nprobeL1 = Some(1))
      },
      Some(s"""$ivfCellCtes,
             |$coarse2Ctes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |l1r AS (SELECT g.gid, ROW_NUMBER() OVER (
             |          ORDER BY ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |            FROM (SELECT unnest(g.gv) a, unnest(q.qv) b) y), 6) DESC,
             |          g.gid) AS grk
             |        FROM g2 g CROSS JOIN q),
             |adm AS (SELECT a3.cluster, COUNT(*) AS cnt
             |        FROM a3 JOIN embeddings e USING (vec_id)
             |        WHERE e.label = 3 GROUP BY a3.cluster),
             |cg AS (SELECT t.cid AS cluster, l.grk FROM gtag t JOIN l1r l USING (gid)),
             |gtot AS (SELECT gl.g, (SELECT COALESCE(SUM(adm.cnt), 0)
             |           FROM cg JOIN adm USING (cluster) WHERE cg.grk <= gl.g) AS tot
             |         FROM (SELECT unnest([1, 2, 3]) AS g) gl),
             |gsel AS (SELECT COALESCE(MIN(CASE WHEN tot >= 20 THEN g END), 3) AS g
             |         FROM gtot),
             |rkc AS (SELECT h.cid AS cluster, COALESCE(adm.cnt, 0) AS cnt,
             |          ROW_NUMBER() OVER (
             |            ORDER BY ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |              FROM (SELECT unnest(h.cv) a, unnest(q.qv) b) y), 6) DESC,
             |            h.cid) AS rk
             |        FROM hh2 h JOIN cg ON cg.cluster = h.cid
             |        LEFT JOIN adm ON adm.cluster = h.cid
             |        CROSS JOIN q CROSS JOIN gsel
             |        WHERE cg.grk <= gsel.g),
             |cum AS (SELECT cluster, rk, SUM(cnt) OVER (ORDER BY rk) AS cum FROM rkc),
             |lmin AS (SELECT COALESCE(MIN(CASE WHEN cum >= 20 THEN rk END), MAX(rk)) AS l
             |         FROM cum),
             |probe AS (SELECT cluster FROM cum CROSS JOIN lmin WHERE rk <= l)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN a3 USING (vec_id) CROSS JOIN q
             |WHERE a3.cluster IN (SELECT cluster FROM probe)
             |  AND e.label = 3
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // ---- T1 temporal re-query ---------------------------------------------

    ("t1_neighbor_expand_requery",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val hits = GroupShaping.topK(orders, 5, col("o_totalprice"), col("o_orderkey"))
          .select(col("o_orderkey").as("hit_key"), col("o_totalprice").as("prev_score"))
        val expanded = hits
          .select(col("hit_key"), col("prev_score"),
            explode(sequence(col("hit_key") - 2, col("hit_key") + 2)).as("o_orderkey"))
          .filter(col("o_orderkey") =!= col("hit_key"))
          .groupBy(col("o_orderkey"))
          .agg(max(col("prev_score")).as("prev_score"))
        orders.join(broadcast(expanded), Seq("o_orderkey"))
          .select(col("o_orderkey"), col("o_totalprice"), col("prev_score"),
            (col("o_totalprice") + col("prev_score")).as("combined_score"))
          .orderBy(col("combined_score").desc, col("o_orderkey"))
      },
      Some("""WITH hits AS (SELECT o_orderkey AS hit_key, o_totalprice AS prev_score
             |              FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5),
             |exp AS (SELECT unnest(generate_series(hit_key - 2, hit_key + 2)) AS o_orderkey,
             |               hit_key, prev_score FROM hits),
             |agg AS (SELECT o_orderkey, MAX(prev_score) AS prev_score FROM exp
             |        WHERE o_orderkey <> hit_key GROUP BY 1)
             |SELECT o.o_orderkey, o.o_totalprice, a.prev_score,
             |       o.o_totalprice + a.prev_score AS combined_score
             |FROM orders o JOIN agg a USING (o_orderkey)
             |ORDER BY combined_score DESC, o_orderkey""".stripMargin)),

    // ---- 2.1 S13 / 2.8 C4 sparse lexical engine ---------------------------

    ("s13_tfidf_vectors",
      (s, dir) =>
        SparseArtifacts.unigram(s, dir).vectors
          .filter(col("id") < 10)
          .select(col("id"), col("term"), round(col("w"), 6).as("w"))
          .orderBy(col("id"), col("term")),
      Some(s"""$tokSql
             |SELECT id, term, ROUND(w / nrm, 6) AS w FROM (
             |  SELECT id, term, w, SQRT(SUM(w*w) OVER (PARTITION BY id)) AS nrm FROM wgt) x
             |WHERE id < 10 ORDER BY id, term""".stripMargin)),

    // artifact-fed: scores the query against the FITTED index (no corpus
    // tokenize in the query job — asserted by PlanShapeSpec)
    ("c4_tfidf_search",
      (s, dir) =>
        Lexical.tfidfSearchIndexed(s, SparseArtifacts.unigram(s, dir),
            Seq("spark", "join", "table", "scan"))
          .select(col("id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(20),
      Some(s"""$tokSql,
             |nrm AS (SELECT id, term, w / SQRT(SUM(w*w) OVER (PARTITION BY id)) AS w FROM wgt),
             |qt(term) AS (VALUES ('spark'), ('join'), ('table'), ('scan')),
             |q AS (SELECT t.term, 1.0 * (LN((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS qw
             |      FROM qt t JOIN dfreq d USING (term) CROSS JOIN nn),
             |qn AS (SELECT SQRT(SUM(qw*qw)) AS qnorm FROM q)
             |SELECT id, ROUND(SUM(nrm.w * q.qw / qn.qnorm), 6) AS score
             |FROM nrm JOIN q USING (term) CROSS JOIN qn
             |GROUP BY id ORDER BY score DESC, id LIMIT 20""".stripMargin)),

    ("a3_bm25_search",
      (s, dir) =>
        Lexical.bm25SearchIndexed(s, SparseArtifacts.unigram(s, dir),
            Seq("spark", "join", "table", "scan"))
          .select(col("id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(20),
      Some("""WITH tok AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
             |            FROM documents),
             |post AS (SELECT id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY 1),
             |nn AS (SELECT COUNT(*) AS n FROM documents),
             |dl AS (SELECT id, COUNT(*) AS dl FROM tok GROUP BY 1),
             |ad AS (SELECT SUM(dl) * 1.0 / COUNT(*) AS avgdl FROM dl),
             |idfr AS (SELECT term, LN((nn.n - df + 0.5) / (df + 0.5)) AS idf_raw
             |         FROM dfreq CROSS JOIN nn),
             |ai AS (SELECT AVG(idf_raw) AS avg_idf FROM idfr),
             |idf AS (SELECT term, CASE WHEN idf_raw < 0 THEN 0.25 * ai.avg_idf ELSE idf_raw END AS idf
             |        FROM idfr CROSS JOIN ai),
             |qt(term) AS (VALUES ('spark'), ('join'), ('table'), ('scan'))
             |SELECT p.id, ROUND(SUM(idf.idf * (p.tf * 2.5) / (p.tf + 1.5 * (0.25 + 0.75 * dl.dl / ad.avgdl))), 6) AS score
             |FROM post p JOIN qt USING (term) JOIN idf USING (term) JOIN dl USING (id) CROSS JOIN ad
             |GROUP BY p.id ORDER BY score DESC, id LIMIT 20""".stripMargin)),

    ("c3_ngram_counts",
      (s, dir) =>
        Lexical.ngrams(t(s, dir, "documents"), "doc_id", "text", 2)
          .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("ngram"))
          .limit(50),
      Some("""WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks FROM documents),
             |idx AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tok),
             |ng AS (SELECT toks[i] || ' ' || toks[i+1] AS ngram FROM idx)
             |SELECT ngram, COUNT(*) AS cnt FROM ng GROUP BY 1
             |ORDER BY cnt DESC, ngram LIMIT 50""".stripMargin)),

    // C1 fallback analyzer: sklearn char_wb(3,5) n-grams corpus-wide — the
    // reference's empty-vocabulary fallback (`object_retrieval.py:75-89`)
    ("c1_charwb_corpus",
      (s, dir) =>
        // fanOutNarrow: the char-(3,5)-gram generator is the most
        // expensive per-row expression in the suite and the one-file
        // corpus scans as ONE task (no-op at scale — guide §2.5)
        operators.Skew.fanOutNarrow(t(s, dir, "documents").select(col("text")))
          .select(explode(Lexical.charWbNgrams(lower(col("text")), 3, 5)).as("gram"))
          .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("gram"))
          .limit(100),
      Some("""WITH w AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
             |           FROM documents),
             |p AS (SELECT ' ' || word || ' ' AS pw FROM w WHERE len(word) > 0),
             |ns AS (SELECT pw, unnest(generate_series(3, LEAST(5, GREATEST(len(pw), 3)))) AS n FROM p),
             |os AS (SELECT pw, n, unnest(generate_series(1, GREATEST(len(pw) - n + 1, 1))) AS o FROM ns),
             |g AS (SELECT substr(pw, o, n) AS gram FROM os)
             |SELECT gram, COUNT(*) AS cnt FROM g GROUP BY 1
             |ORDER BY cnt DESC, gram LIMIT 100""".stripMargin)),

    // (1,3)-gram tf-idf channel (the OCR/speech vocabulary shape,
    // `ocr_retrieval.py:27-35`): phrases score as whole n-gram terms
    ("c4b_tfidf_ngram13",
      (s, dir) =>
        Lexical.tfidfSearchIndexed(s, SparseArtifacts.ngram13(s, dir),
          Seq("spark", "spark join"))
          .select(col("id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(20),
      Some("""WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS toks
             |            FROM documents),
             |g1 AS (SELECT id, unnest(toks) AS term FROM tok),
             |i2 AS (SELECT id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tok),
             |g2 AS (SELECT id, toks[i] || ' ' || toks[i+1] AS term FROM i2),
             |i3 AS (SELECT id, toks, unnest(generate_series(1, len(toks) - 2)) AS i FROM tok),
             |g3 AS (SELECT id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS term FROM i3),
             |post AS (SELECT id, term, COUNT(*) AS tf FROM
             |  (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3) u
             |  GROUP BY 1, 2),
             |d AS (SELECT term, COUNT(*) AS df FROM post GROUP BY 1),
             |nn AS (SELECT COUNT(*) AS n FROM documents),
             |wgt AS (SELECT p.id, p.term, p.tf * (LN((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS w
             |        FROM post p JOIN d USING (term) CROSS JOIN nn),
             |nrm AS (SELECT id, term, w / SQRT(SUM(w*w) OVER (PARTITION BY id)) AS w FROM wgt),
             |qt(term, qtf) AS (VALUES ('spark', 1), ('spark join', 1)),
             |q AS (SELECT t.term, t.qtf * (LN((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS qw
             |      FROM qt t JOIN d USING (term) CROSS JOIN nn),
             |qn AS (SELECT SQRT(SUM(qw*qw)) AS qnorm FROM q)
             |SELECT id, ROUND(SUM(nrm.w * q.qw / qn.qnorm), 6) AS score
             |FROM nrm JOIN q USING (term) CROSS JOIN qn GROUP BY id
             |ORDER BY score DESC, id LIMIT 20""".stripMargin)),

    ("s14_tag_corpus",
      (s, dir) =>
        Lexical.docFreq(Lexical.postings(t(s, dir, "documents"), "doc_id", "text"))
          .orderBy(col("term")),
      Some("""WITH tok AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
             |            FROM documents),
             |post AS (SELECT id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
             |SELECT term, COUNT(*) AS df FROM post GROUP BY 1 ORDER BY term""".stripMargin)),

    // ---- §3.3 relevance-feedback rerank -----------------------------------

    // MMR diversification (Carbonell & Goldstein 1998): greedy
    // relevance-vs-redundancy selection over the exact top-50 shortlist —
    // the near-duplicate-burst fix for result lists. The greedy recurrence
    // is k-sequential, so the oracle is a recursive CTE walking the same
    // selection; both engines combine identically-rounded Spark-computed
    // components, so the argmax boundary is deterministic.
    ("rerank_mmr",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val cand = emb.crossJoin(broadcast(qv))
          .select(col("vec_id"), col("embedding"),
            round(VectorOps.dot(col("embedding"), col("qv")), 4).as("__rel"))
          .orderBy(col("__rel").desc, col("vec_id"))
          .limit(50)
          .select(col("vec_id"), col("embedding"))
        Similarity.mmrRerank(cand, qv, k = 10, lambda = 0.7)
      },
      Some("""WITH RECURSIVE
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cand AS (SELECT e.vec_id AS id, e.embedding AS v,
             |           ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |                  FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x), 4) AS rel
             |         FROM embeddings e CROSS JOIN q
             |         ORDER BY rel DESC, id LIMIT 50),
             |prs AS (SELECT a.id AS i, b.id AS j,
             |          ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |                 FROM (SELECT unnest(a.v) a, unnest(b.v) b) x), 4) AS s
             |        FROM cand a JOIN cand b ON a.id <> b.id),
             |sel AS (
             |  SELECT 1 AS rnk,
             |         (SELECT id FROM cand ORDER BY rel DESC, id LIMIT 1) AS pick,
             |         [(SELECT id FROM cand ORDER BY rel DESC, id LIMIT 1)] AS sel_ids,
             |         (SELECT ROUND(0.7 * rel, 4) FROM cand ORDER BY rel DESC, id LIMIT 1) AS mmr
             |  UNION ALL
             |  SELECT rnk + 1,
             |         nxt.id,
             |         list_append(sel_ids, nxt.id),
             |         nxt.score
             |  FROM sel, LATERAL (
             |    SELECT c.id,
             |           ROUND(0.7 * c.rel - (1 - 0.7) * (SELECT MAX(p.s) FROM prs p
             |               WHERE p.i = c.id AND list_contains(sel.sel_ids, p.j)), 4) AS score
             |    FROM cand c WHERE NOT list_contains(sel.sel_ids, c.id)
             |    ORDER BY score DESC, c.id LIMIT 1) nxt
             |  WHERE rnk < 10
             |)
             |SELECT rnk, pick AS vec_id, mmr FROM sel ORDER BY rnk""".stripMargin)),

    ("rerank_feedback",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val cand = emb.crossJoin(broadcast(qv))
          .select(col("vec_id"), col("embedding"),
            round(VectorOps.dot(col("embedding"), col("qv")), 4).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(100)
          .filter(col("vec_id") =!= 3) // drop negative-voted candidates
        val votes = emb.filter(col("vec_id").isin(1, 2))
          .select(lit(1.0).as("sign"), col("embedding").as("ve"))
          .unionByName(emb.filter(col("vec_id") === 3)
            .select(lit(-1.0).as("sign"), col("embedding").as("ve")))
        Similarity.feedbackRerank(cand, votes)
          .select(col("vec_id"), round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cand AS (SELECT e.vec_id, e.embedding,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x), 4) AS score
             |  FROM embeddings e CROSS JOIN q ORDER BY score DESC, e.vec_id LIMIT 100),
             |cand2 AS (SELECT * FROM cand WHERE vec_id <> 3),
             |votes AS (SELECT 1.0 AS sign, embedding AS ve FROM embeddings WHERE vec_id IN (1, 2)
             |          UNION ALL
             |          SELECT -1.0 AS sign, embedding AS ve FROM embeddings WHERE vec_id = 3),
             |upd AS (SELECT c.vec_id, SUM(v.sign * (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |          FROM (SELECT unnest(c.embedding) a, unnest(v.ve) b) x)) AS u
             |        FROM cand2 c CROSS JOIN votes v GROUP BY c.vec_id)
             |SELECT c.vec_id, ROUND(c.score + COALESCE(u.u, 0), 4) AS score
             |FROM cand2 c LEFT JOIN upd u USING (vec_id)
             |ORDER BY score DESC, vec_id""".stripMargin)),

    // int8 symmetric quantization of embeddings (the 4x storage / bandwidth
    // lever for 100 TB vector columns) with per-row reconstruction error of
    // the quantized inner product vs exact
    ("sim_quantize_int8",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        def q8(c: Column): Column = transform(c, x => round(x.cast("double") * 127))
        emb.crossJoin(broadcast(qv))
          .select(col("vec_id"),
            VectorOps.dotHof(col("embedding"), col("qv")).as("de"),
            (aggregate(zip_with(q8(col("embedding")), q8(col("qv")), (a, b) => a * b),
              lit(0.0), (acc, v) => acc + v) / lit(16129.0)).as("dq"))
          .select(col("vec_id"), round(col("de"), 4).as("dot_exact"),
            round(col("dq"), 4).as("dot_q8"),
            round(abs(col("de") - col("dq")), 4).as("err"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |b AS (SELECT e.vec_id,
             |  (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |   FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x) AS de,
             |  (SELECT SUM(round(x.a::DOUBLE * 127) * round(x.b::DOUBLE * 127))
             |   FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x) / 16129.0 AS dq
             |  FROM embeddings e CROSS JOIN q)
             |SELECT vec_id, ROUND(de, 4) AS dot_exact, ROUND(dq, 4) AS dot_q8,
             |       ROUND(ABS(de - dq), 4) AS err
             |FROM b ORDER BY vec_id""".stripMargin)),

    // int8 top-k search: scoring entirely in INTEGER arithmetic over the
    // quantized bytes (exact in both engines — no float-order concerns),
    // the 4x-less-IO serving path; rescale only for reading the score
    ("sim_int8_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        def q8(c: Column): Column =
          transform(c, x => round(x.cast("double") * 127).cast("long"))
        emb.crossJoin(broadcast(qv))
          .select(col("vec_id"),
            aggregate(zip_with(q8(col("embedding")), q8(col("qv")), (a, b) => a * b),
              lit(0L), (acc, v) => acc + v).as("score_i"))
          .orderBy(col("score_i").desc, col("vec_id"))
          .limit(20)
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT e.vec_id,
             |  CAST((SELECT SUM(CAST(round(x.a::DOUBLE * 127) AS BIGINT) *
             |                   CAST(round(x.b::DOUBLE * 127) AS BIGINT))
             |        FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x) AS BIGINT) AS score_i
             |FROM embeddings e CROSS JOIN q
             |ORDER BY score_i DESC, e.vec_id LIMIT 20""".stripMargin)),

    // ---- dedup suite (training-data pipeline extension) -------------------

    ("dedup_exact",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        // corpus unioned with an id-shifted copy of itself: every text has
        // exactly one planted duplicate, so the operator provably collapses
        val all = docs.unionByName(
          docs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
        Dedup.exact(all, "doc_id", "text").orderBy(col("keep_id"))
      },
      Some("""WITH all_docs AS (SELECT doc_id, text FROM documents
             |                  UNION ALL
             |                  SELECT doc_id + 10000 AS doc_id, text FROM documents)
             |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM all_docs
             |GROUP BY CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
             |ORDER BY keep_id""".stripMargin)),

    // paragraph-level dedup (CCNet/Gopher line dedup): documents are built
    // two-paragraph (own text + successor's text), so EVERY paragraph
    // occurs exactly twice across adjacent docs — the operator must keep
    // each one only at its first (id, pos) occurrence and reassemble the
    // rest, the cross-document boilerplate removal doc-level dedup can't do
    ("dedup_paragraph",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val succ = docs.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("__t2"))
        val two = docs.join(succ, Seq("doc_id"))
          .select(col("doc_id").as("id"),
            concat_ws("\n", col("text"), col("__t2")).as("text"))
        Dedup.dedupParagraphs(two, "id", "text").orderBy(col("id"))
      },
      Some("""WITH two AS (SELECT d1.doc_id AS id,
             |               d1.text || chr(10) || d2.text AS text
             |             FROM documents d1 JOIN documents d2
             |               ON d2.doc_id = d1.doc_id + 1),
             |sp AS (SELECT id, string_split(text, chr(10)) AS ps FROM two),
             |idx AS (SELECT id, ps, unnest(generate_series(1, len(ps))) AS i FROM sp),
             |para AS (SELECT id, i, ps[i] AS para FROM idx),
             |rk AS (SELECT id, i, para, ROW_NUMBER() OVER (
             |         PARTITION BY para ORDER BY id, i) AS rn FROM para),
             |kept AS (SELECT id, i, para FROM rk WHERE rn = 1),
             |tot AS (SELECT id, COUNT(*) AS n_paras FROM para GROUP BY 1),
             |re AS (SELECT id, string_agg(para, chr(10) ORDER BY i) AS text,
             |              COUNT(*) AS n_kept
             |       FROM kept GROUP BY id)
             |SELECT t.id, COALESCE(re.text, '') AS text, t.n_paras,
             |       COALESCE(re.n_kept, 0) AS n_kept
             |FROM tot t LEFT JOIN re USING (id)
             |ORDER BY t.id""".stripMargin)),

    // span-level exact substring dedup (Lee et al. 2022 ExactSubstr at
    // fixed k=5 token granularity): the planted corpus gives every doc its
    // successor's text, so each doc's own token run repeats verbatim inside
    // its predecessor — the second copy must surface as one merged span
    ("dedup_substring_spans",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val succ = docs.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("__t2"))
        val two = docs.join(succ, Seq("doc_id"))
          .select(col("doc_id").as("id"),
            concat_ws(" ", col("text"), col("__t2")).as("text"))
        Dedup.duplicateSpans(two, "id", "text", k = 5)
          .orderBy(col("id"), col("span_start"))
      },
      Some("""WITH two AS (SELECT d1.doc_id AS id,
             |               d1.text || ' ' || d2.text AS text
             |             FROM documents d1 JOIN documents d2
             |               ON d2.doc_id = d1.doc_id + 1),
             |tok AS (SELECT id, regexp_extract_all(lower(text), '\w+') AS a FROM two),
             |idx AS (SELECT id, a, unnest(generate_series(1, len(a) - 4)) AS i
             |        FROM tok WHERE len(a) >= 5),
             |sh AS (SELECT id, i AS st, array_to_string(a[i:i+4], ' ') AS s FROM idx),
             |rk AS (SELECT id, st,
             |         ROW_NUMBER() OVER (PARTITION BY s ORDER BY id, st) AS rn,
             |         COUNT(*) OVER (PARTITION BY s) AS cnt FROM sh),
             |dup AS (SELECT id, st FROM rk WHERE cnt >= 2 AND rn > 1),
             |brk AS (SELECT id, st,
             |          CASE WHEN st - LAG(st) OVER (PARTITION BY id ORDER BY st) <= 5
             |               THEN 0 ELSE 1 END AS b FROM dup),
             |grp AS (SELECT id, st, SUM(b) OVER (PARTITION BY id ORDER BY st) AS g
             |        FROM brk)
             |SELECT id, MIN(st) AS span_start, MAX(st) + 4 AS span_end,
             |       COUNT(*) AS n_shingles
             |FROM grp GROUP BY id, g
             |ORDER BY id, span_start""".stripMargin)),

    // the APPLY step: same planted corpus, duplicated spans excised — the
    // first copy survives, later copies vanish, dup-free docs pass through
    ("dedup_substring_apply",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val succ = docs.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("__t2"))
        val two = docs.join(succ, Seq("doc_id"))
          .select(col("doc_id").as("id"),
            concat_ws(" ", col("text"), col("__t2")).as("text"))
        Dedup.removeDuplicateSpans(two, "id", "text", k = 5)
          .orderBy(col("id"))
      },
      Some("""WITH two AS (SELECT d1.doc_id AS id,
             |               d1.text || ' ' || d2.text AS text
             |             FROM documents d1 JOIN documents d2
             |               ON d2.doc_id = d1.doc_id + 1),
             |tok AS (SELECT id, regexp_extract_all(lower(text), '\w+') AS a FROM two),
             |idx AS (SELECT id, a, unnest(generate_series(1, len(a) - 4)) AS i
             |        FROM tok WHERE len(a) >= 5),
             |sh AS (SELECT id, i AS st, array_to_string(a[i:i+4], ' ') AS s FROM idx),
             |rk AS (SELECT id, st,
             |         ROW_NUMBER() OVER (PARTITION BY s ORDER BY id, st) AS rn,
             |         COUNT(*) OVER (PARTITION BY s) AS cnt FROM sh),
             |dup AS (SELECT id, st FROM rk WHERE cnt >= 2 AND rn > 1),
             |brk AS (SELECT id, st,
             |          CASE WHEN st - LAG(st) OVER (PARTITION BY id ORDER BY st) <= 5
             |               THEN 0 ELSE 1 END AS b FROM dup),
             |grp AS (SELECT id, st, SUM(b) OVER (PARTITION BY id ORDER BY st) AS g
             |        FROM brk),
             |spans AS (SELECT id, g, MIN(st) AS s0, MAX(st) + 4 AS s1
             |          FROM grp GROUP BY id, g),
             |tok2 AS (SELECT id, i AS pos, a[i] AS tok
             |         FROM (SELECT id, a, unnest(generate_series(1, len(a))) AS i FROM tok)),
             |kept AS (SELECT t.id, t.pos, t.tok FROM tok2 t
             |         WHERE NOT EXISTS (SELECT 1 FROM spans s
             |                           WHERE s.id = t.id AND t.pos BETWEEN s.s0 AND s.s1)),
             |re AS (SELECT id, string_agg(tok, ' ' ORDER BY pos) AS text,
             |              COUNT(*) AS nk
             |       FROM kept GROUP BY id),
             |tot AS (SELECT id, len(a) AS n_tokens FROM tok)
             |SELECT t.id, COALESCE(re.text, '') AS text, t.n_tokens,
             |       t.n_tokens - COALESCE(re.nk, 0) AS n_dropped
             |FROM tot t LEFT JOIN re USING (id)
             |ORDER BY t.id""".stripMargin)),

    // SPAN-level decontamination: the benchmark is the first HALF of every
    // 10th document's tokens, so those documents must come back with their
    // leaked half excised and the rest intact — surgical eval-set removal,
    // not whole-document dropping
    ("text_decontaminate_spans",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corp = docs.select(col("doc_id").as("id"), col("text"))
        val bench = docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("id"),
            expr("array_join(slice(regexp_extract_all(lower(text), '\\\\w+', 0), 1, " +
              "size(regexp_extract_all(lower(text), '\\\\w+', 0)) div 2), ' ')")
              .as("text"))
        Dedup.decontaminateSpans(corp, bench, k = 5).orderBy(col("id"))
      },
      Some("""WITH corp AS (SELECT doc_id AS id, text FROM documents),
             |ctok AS (SELECT id, regexp_extract_all(lower(text), '\w+') AS a FROM corp),
             |btok AS (SELECT regexp_extract_all(lower(text), '\w+') AS a0
             |         FROM documents WHERE doc_id % 10 = 0),
             |bha AS (SELECT a0[1 : len(a0) // 2] AS a FROM btok),
             |bsh AS (SELECT DISTINCT array_to_string(a[i:i+4], ' ') AS s
             |        FROM (SELECT a, unnest(generate_series(1, len(a) - 4)) AS i
             |              FROM bha WHERE len(a) >= 5)),
             |csh AS (SELECT id, i AS st, array_to_string(a[i:i+4], ' ') AS s
             |        FROM (SELECT id, a, unnest(generate_series(1, len(a) - 4)) AS i
             |              FROM ctok WHERE len(a) >= 5)),
             |mark AS (SELECT id, st FROM csh WHERE s IN (SELECT s FROM bsh)),
             |brk AS (SELECT id, st,
             |          CASE WHEN st - LAG(st) OVER (PARTITION BY id ORDER BY st) <= 5
             |               THEN 0 ELSE 1 END AS b FROM mark),
             |grp AS (SELECT id, st, SUM(b) OVER (PARTITION BY id ORDER BY st) AS g
             |        FROM brk),
             |spans AS (SELECT id, g, MIN(st) AS s0, MAX(st) + 4 AS s1
             |          FROM grp GROUP BY id, g),
             |tok2 AS (SELECT id, i AS pos, a[i] AS tokv
             |         FROM (SELECT id, a, unnest(generate_series(1, len(a))) AS i FROM ctok)),
             |kept AS (SELECT t.id, t.pos, t.tokv FROM tok2 t
             |         WHERE NOT EXISTS (SELECT 1 FROM spans s2
             |                           WHERE s2.id = t.id AND t.pos BETWEEN s2.s0 AND s2.s1)),
             |re AS (SELECT id, string_agg(tokv, ' ' ORDER BY pos) AS text,
             |              COUNT(*) AS nk
             |       FROM kept GROUP BY id),
             |tot AS (SELECT id, len(a) AS n_tokens FROM ctok)
             |SELECT t.id, COALESCE(re.text, '') AS text, t.n_tokens,
             |       t.n_tokens - COALESCE(re.nk, 0) AS n_dropped
             |FROM tot t LEFT JOIN re USING (id)
             |ORDER BY t.id""".stripMargin)),

    ("dedup_minhash_lsh",
      (s, dir) =>
        MinhashArtifacts.pairs(s, dir)
          .select(col("i"), col("j"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("i"), col("j")),
      Some(s"""$minhashJacSql
             |SELECT i, j, ROUND(jaccard, 6) AS jaccard FROM jac WHERE jaccard >= 0.5
             |ORDER BY i, j""".stripMargin)),

    // near-dup pairs -> canonical keep-id per connected component: the step
    // that turns pair lists into an actionable drop set. Oracle = transitive
    // closure via recursive CTE; Spark = min-label propagation to fixpoint.
    ("dedup_components",
      (s, dir) => {
        val pairs = MinhashArtifacts.pairs(s, dir)
        Dedup.canonicalIds(pairs.select(col("i"), col("j")))
          .orderBy(col("id"))
      },
      Some((s"""$minhashJacSql,
             |prs AS (SELECT i, j FROM jac WHERE jaccard >= 0.5),
             |edges AS (SELECT i AS a, j AS b FROM prs UNION ALL SELECT j AS a, i AS b FROM prs),
             |nodes AS (SELECT DISTINCT a AS id FROM edges),
             |reach AS (SELECT id, id AS r FROM nodes
             |          UNION
             |          SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b)
             |SELECT id, MIN(r) AS keep_id FROM reach GROUP BY id
             |ORDER BY id""").stripMargin.replaceFirst("WITH ", "WITH RECURSIVE "))),

    // SemDeDup-style keeper election (Abbas et al. 2023): within each
    // near-dup component keep the HIGHEST-quality member, not the
    // arbitrary min id — the curation shape production pipelines actually
    // apply. Ranks by the pre-rounded quality score (id tie-break) so the
    // election is deterministic on both engines.
    ("dedup_semantic_keep_best",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val comps = Dedup.canonicalIds(
          MinhashArtifacts.pairs(s, dir)
            .select(col("i"), col("j")))
        val quality = TextAnalysis.qualityScore(docs, "doc_id", "text",
            Seq("the", "a"))
          .select(col("id"), round(col("score"), 6).as("score"))
        Dedup.keepBest(comps, quality).orderBy(col("id"))
      },
      Some((s"$minhashJacSql,\n" +
        """prs AS (SELECT i, j FROM jac WHERE jaccard >= 0.5),
          |edges AS (SELECT i AS a, j AS b FROM prs UNION ALL SELECT j AS a, i AS b FROM prs),
          |nodes AS (SELECT DISTINCT a AS id FROM edges),
          |reach AS (SELECT id, id AS r FROM nodes
          |          UNION
          |          SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
          |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
          |qtok AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
          |         FROM documents),
          |qst AS (SELECT id, COUNT(*) AS n_tokens,
          |               SUM(CASE WHEN term IN ('the','a') THEN 1 ELSE 0 END) AS n_stop
          |        FROM qtok GROUP BY 1),
          |qbase AS (SELECT doc_id AS id,
          |                 LENGTH(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars
          |          FROM documents),
          |qsc AS (SELECT b.id, ROUND(0.4 * (st.n_stop * 1.0 / st.n_tokens)
          |             + 0.6 * (LEAST(b.alpha_chars * 1.0 / st.n_tokens, 10.0) / 10.0), 6) AS score
          |        FROM qbase b JOIN qst st ON st.id = b.id),
          |scored AS (SELECT c.id, c.comp, q.score FROM comp c JOIN qsc q USING (id)),
          |rk AS (SELECT id, comp, score, ROW_NUMBER() OVER (
          |         PARTITION BY comp ORDER BY score DESC, id) AS rn FROM scored),
          |best AS (SELECT comp, id AS best_id FROM rk WHERE rn = 1)
          |SELECT s.id, b.best_id, s.score, s.id = b.best_id AS keep
          |FROM scored s JOIN best b USING (comp)
          |ORDER BY s.id""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    ("dedup_ngram_jaccard",
      (s, dir) =>
        Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text")
          .select(col("i"), col("j"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("i"), col("j")),
      Some(s"""$shingleSql,
             |shh AS (SELECT id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS hvv FROM sh),
             |sz AS (SELECT id, COUNT(*) AS n FROM shh GROUP BY 1),
             |inter AS (SELECT a.id AS i, b.id AS j, COUNT(*) AS cc
             |          FROM shh a JOIN shh b ON a.hvv = b.hvv AND a.id < b.id GROUP BY 1, 2),
             |jac AS (SELECT i, j, cc * 1.0 / (sa.n + sb.n - cc) AS jaccard
             |        FROM inter JOIN sz sa ON sa.id = i JOIN sz sb ON sb.id = j)
             |SELECT i, j, ROUND(jaccard, 6) AS jaccard FROM jac WHERE jaccard >= 0.5
             |ORDER BY i, j""".stripMargin)),

    ("dedup_simhash",
      (s, dir) =>
        SimhashArtifacts.fingerprints(s, dir)
          .orderBy(col("id")),
      Some("""WITH tok AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
             |            FROM documents),
             |post AS (SELECT id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |bits AS (SELECT id, tf, CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS hv,
             |                unnest(generate_series(0, 62)) AS b FROM post),
             |contrib AS (SELECT id, b, SUM(CASE WHEN (hv >> b) & 1 = 1 THEN tf ELSE -tf END) AS sb
             |            FROM bits GROUP BY 1, 2)
             |SELECT id, CAST(SUM(CASE WHEN sb > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
             |FROM contrib GROUP BY id ORDER BY id""".stripMargin)),

    ("dedup_simhash_pairs",
      (s, dir) =>
        // pigeonhole banding: exact same pair set as the all-pairs cross
        // join (7 bands of 9 bits cover hamming <= 6), corpus-linear
        Dedup.simhashPairsBanded(SimhashArtifacts.fingerprints(s, dir))
          .orderBy(col("i"), col("j")),
      Some("""WITH tok AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
             |            FROM documents),
             |post AS (SELECT id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |bits AS (SELECT id, tf, CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS hv,
             |                unnest(generate_series(0, 62)) AS b FROM post),
             |contrib AS (SELECT id, b, SUM(CASE WHEN (hv >> b) & 1 = 1 THEN tf ELSE -tf END) AS sb
             |            FROM bits GROUP BY 1, 2),
             |fp AS (SELECT id, CAST(SUM(CASE WHEN sb > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
             |       FROM contrib GROUP BY id)
             |SELECT a.id AS i, b.id AS j, CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
             |FROM fp a JOIN fp b ON a.id < b.id
             |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
             |ORDER BY i, j""".stripMargin)),

    // embedding near-dup with EXACT cosine scores, cell-BLOCKED candidates
    // (VERDICT r6 #2 — the suite's last cartesian, retired): each row
    // joins its top-2 IVF cells against the broadcast fitted centroids
    // (map-only top-p generalization of the assignCells packed argmax),
    // pairs form WITHIN a cell (hash equi-join on the cell key — candidate
    // volume sum(|cell|^2), never N^2), exact cosine verifies candidates.
    // The guarded all-pairs Dedup.cosinePairs remains as the small-N
    // oracle form; DedupSpec pins blocked == all-pairs when probes covers
    // every cell
    ("dedup_embedding_cosine",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        Dedup.cosinePairsBlocked(t(s, dir, "embeddings"), idx.centroids,
            "vec_id", "embedding", 0.45, probes = 2)
          .select(col("i"), col("j"), round(col("cos"), 4).as("cos"))
          .orderBy(col("i"), col("j"))
      },
      Some(s"""$ivfCellCtes,
             |a3p AS (SELECT vec_id, cluster FROM (
             |    SELECT vec_id, cluster,
             |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
             |    FROM s3) WHERE rn <= 2),
             |cand AS (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
             |         FROM a3p a JOIN a3p b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
             |SELECT c.i, c.j,
             |  ROUND((SELECT SUM(x.x::DOUBLE * x.y::DOUBLE)
             |         FROM (SELECT unnest(a.embedding) x, unnest(b.embedding) y) x), 4) AS cos
             |FROM cand c
             |JOIN embeddings a ON a.vec_id = c.i
             |JOIN embeddings b ON b.vec_id = c.j
             |WHERE (SELECT SUM(x.x::DOUBLE * x.y::DOUBLE)
             |       FROM (SELECT unnest(a.embedding) x, unnest(b.embedding) y) x) >= 0.45
             |ORDER BY i, j""".stripMargin)),

    ("dedup_embedding_lsh",
      (s, dir) =>
        Dedup.srpCosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding")
          .select(col("i"), col("j"), round(col("cos"), 4).as("cos"))
          .orderBy(col("i"), col("j")),
      Some("""WITH pe AS (SELECT vec_id AS id, unnest(embedding) AS x,
             |                   unnest(generate_series(0, len(embedding) - 1)) AS i
             |            FROM embeddings),
             |proj AS (SELECT id, h,
             |    SUM(x::DOUBLE * (CAST('0x' || substr(md5(h || ':' || i), 1, 15) AS BIGINT) % 2 * 2 - 1)) AS proj
             |  FROM pe, (SELECT unnest(generate_series(1, 16)) AS h) hh GROUP BY 1, 2),
             |mh AS (SELECT id, h, CASE WHEN proj > 0 THEN 1 ELSE 0 END AS mh FROM proj),
             |bands AS (SELECT id, CAST(floor((h - 1) / 4) AS BIGINT) AS band,
             |                 string_agg(mh, ',' ORDER BY h) AS sig FROM mh GROUP BY 1, 2),
             |bk AS (SELECT id, band, CAST('0x' || substr(md5(sig), 1, 15) AS BIGINT) AS bucket FROM bands),
             |cand AS (SELECT DISTINCT a.id AS i, b.id AS j FROM bk a
             |         JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
             |ver AS (SELECT c.i, c.j,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(ea.embedding) a, unnest(eb.embedding) b) x) AS cos
             |  FROM cand c JOIN embeddings ea ON ea.vec_id = c.i
             |              JOIN embeddings eb ON eb.vec_id = c.j)
             |SELECT i, j, ROUND(cos, 4) AS cos FROM ver WHERE cos >= 0.45
             |ORDER BY i, j""".stripMargin)),

    // ---- ANN: IVF cluster pruning (the 100 TB scale path) -----------------

    // PQ/ADC search (extension): codes-only approximate top-k with Lloyd-
    // refined codebooks (M=8 subspaces x 8 dims, K=16; sampled init + one
    // ProductQuantizer::train iteration) — the FAISS-IVFPQ compression
    // leg of the scale path; 64 floats -> 8 bytes per row. Serves from the
    // PERSISTED codebook + codes artifacts (DenseArtifacts — FAISS trains
    // and encodes at build time, never per query): the query-time plan
    // reads codes only, builds the M x K lookup table from the codebook
    // artifact, and never encodes or touches an original vector
    ("sim_pq_adc",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.pqAdcScore(idx.codes, idx.codebooks, qv, k = 20)
      },
      Some(s"""WITH $pqRefinedCbCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |dist AS (SELECT s.id, s.m, cbr.c,
             |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
             |     FROM (SELECT unnest(s.sv) a, unnest(cbr.cbv) b) x) AS d
             |  FROM sub s JOIN cbr USING (m)),
             |code AS (SELECT id, m, c AS code FROM (
             |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
             |    FROM dist) WHERE rn = 1),
             |qtab AS (SELECT cbr.m, cbr.c,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(cbr.cbv) a, unnest(q.qv[cbr.m*8+1 : cbr.m*8+8]) b) x) AS p
             |  FROM cbr CROSS JOIN q),
             |sc AS (SELECT id, CAST(SUM(CAST(p AS DECIMAL(18,12))) AS DOUBLE) AS score
             |       FROM code JOIN qtab ON code.m = qtab.m AND code.code = qtab.c
             |       GROUP BY id)
             |SELECT id AS vec_id, ROUND(score, 6) AS score FROM sc
             |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin)),

    // Lloyd-refined PQ codebooks (FAISS ProductQuantizer::train analog):
    // one k-means iteration per subspace from the sampled init — argmin-L2
    // re-assign (ties to the smaller code), decimal-exact per-(m, c, dim)
    // mean refit. Refined codebooks quantize at least as tightly as the
    // init at the same code budget (Lloyd monotonicity; PqRefineSpec
    // measures distortion + recall). Like sim_kmeans_fit, this verifies
    // the PERSISTED codebook artifact — the thing ADC serving reads —
    // against the DuckDB oracle's unrolled per-subspace training; no
    // re-train (and no leaked cache entry) per query execution.
    ("sim_pq_lloyd",
      (s, dir) =>
        DenseArtifacts.ivf(s, dir).codebooks
          .select(col("m"), col("c"), posexplode(col("cbv")).as(Seq("pos", "cx")))
          .select(col("m").cast("long").as("m"), col("c").cast("int").as("c"),
            col("pos").cast("long").as("pos"),
            round(col("cx").cast("double"), 6).as("val"))
          .orderBy(col("m"), col("c"), col("pos")),
      Some(s"""WITH $pqRefinedCbCtes
             |SELECT m, c, CAST(i - 1 AS BIGINT) AS pos,
             |       ROUND(CAST(cx AS DOUBLE), 6) AS val
             |FROM mn0 ORDER BY m, c, pos""".stripMargin)),

    // IVF-PQ composed (the FAISS IVFPQ analog), serving from the FITTED
    // artifacts with codes INSIDE the inverted lists: driver-side centroid
    // probe prunes the cell-PARTITIONED codes table to nprobe clusters'
    // PARTITIONS (directory pruning over M-byte code rows, not d-float
    // vectors), ADC against the persisted whole-corpus codebooks — scan
    // cost nprobe/k of the CODES, score cost M table lookups per row,
    // zero encode/train jobs at query time
    ("sim_ivfpq_ann",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfPqSearchPruned(
          idx.codes, idx.codebooks, idx.centroids, qv, nprobe = 2, k = 20)
      },
      Some(s"""$ivfCellCtes,
             |$pqRefinedCbCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |dist AS (SELECT s.id, s.m, cbr.c,
             |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
             |     FROM (SELECT unnest(s.sv) a, unnest(cbr.cbv) b) x) AS d
             |  FROM sub s JOIN a3 ON a3.vec_id = s.id
             |  JOIN probe p ON a3.cluster = p.cluster
             |  JOIN cbr USING (m)),
             |code AS (SELECT id, m, c AS code FROM (
             |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
             |    FROM dist) WHERE rn = 1),
             |qtab AS (SELECT cbr.m, cbr.c,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(cbr.cbv) a, unnest(q.qv[cbr.m*8+1 : cbr.m*8+8]) b) x) AS p
             |  FROM cbr CROSS JOIN q),
             |sc AS (SELECT id, CAST(SUM(CAST(p AS DECIMAL(18,12))) AS DOUBLE) AS score
             |       FROM code JOIN qtab ON code.m = qtab.m AND code.code = qtab.c
             |       GROUP BY id)
             |SELECT id AS vec_id, ROUND(score, 6) AS score FROM sc
             |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin)),

    // k-means training (the `index.train()` step FAISS IVF presupposes —
    // absent from the reference only because it stays flat-exact): hash-
    // sampled init, 2 Lloyd iterations (map-only assign, decimal-exact
    // refit). The first ANN query of a run pays the fit ONCE
    // (DenseArtifacts); this query verifies the PERSISTED centroid table
    // against the DuckDB oracle's unrolled-CTE fit — the artifact, not a
    // re-train, is what gets checked, exactly what serving reads.
    ("sim_kmeans_fit",
      (s, dir) =>
        DenseArtifacts.ivf(s, dir).centroids
          .select(col("cluster"), posexplode(col("cv")).as(Seq("pos", "cx")))
          .select(col("cluster"), col("pos").cast("long").as("pos"),
            round(col("cx").cast("double"), 6).as("val"))
          .orderBy(col("cluster"), col("pos")),
      Some(s"""$kmeansFitCtes
             |SELECT cluster, CAST(i - 1 AS BIGINT) AS pos,
             |       ROUND(CAST(cx AS DOUBLE), 6) AS val
             |FROM m2 ORDER BY cluster, pos""".stripMargin)),

    // IVF ANN serving from the FITTED artifacts (train-once/query-many —
    // FAISS `index.train()` happens at build time, never per query): the
    // centroid probe ranks the k=8-row artifact driver-side, and the
    // cell-PARTITIONED corpus table is scanned with a literal
    // `cluster IN (...)` — PartitionFilters directory pruning, the scan
    // touches ~nprobe/k of the corpus and zero training jobs.
    ("sim_ivf_ann",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfSearchPruned(idx.cells, idx.centroids, qv, nprobe = 2, k = 20)
      },
      Some(s"""$ivfCellCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN a3 USING (vec_id) CROSS JOIN q
             |WHERE a3.cluster IN (SELECT cluster FROM probe)
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // TWO-LEVEL coarse serving (the FAISS-IMI analog that bounds the
    // driver at sqrt(nlist) — VERDICT r15 #1): the fitted centroid table
    // is itself clustered into 3 groups ([[Similarity
    // .buildCoarseHierarchy]]), the query ranks the L1 groups (the only
    // driver-scale step), opens the best 2 groups' centroid PARTITIONS,
    // ranks those centroids for the 2 best cells, and exactly rescores
    // just those cells' rows. PARTIAL L1 probe (2 of 3 groups), so the
    // hash pins the hierarchy's coverage trade, not the flat-parity
    // degenerate case (CoarseHierarchySpec pins that separately).
    ("sim_ivf_twolevel",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val (l1, l2) = DenseArtifacts.hierarchy(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfSearchPruned(idx.cells, idx.centroids, qv,
          nprobe = 2, k = 20, hierarchy = Some((l1, l2)), nprobeL1 = Some(2))
      },
      Some(s"""$ivfCellCtes,
             |$coarse2Ctes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |l1p AS (SELECT g.gid FROM g2 g CROSS JOIN q
             |        ORDER BY ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |          FROM (SELECT unnest(g.gv) a, unnest(q.qv) b) y), 6) DESC, g.gid
             |        LIMIT 2),
             |l2p AS (SELECT t.cid AS cluster FROM gtag t JOIN hh2 h USING (cid) CROSS JOIN q
             |        WHERE t.gid IN (SELECT gid FROM l1p)
             |        ORDER BY ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |          FROM (SELECT unnest(h.cv) a, unnest(q.qv) b) y), 6) DESC, t.cid
             |        LIMIT 2)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN a3 USING (vec_id) CROSS JOIN q
             |WHERE a3.cluster IN (SELECT cluster FROM l2p)
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // batch IVF serving from the FITTED artifacts: THREE queries, per-query
    // nprobe=2 probing on the tiny centroid table (driver-side, like the
    // FAISS coarse quantizer), ONE pruned scan of the UNION of probed
    // cells' partitions, bounded per-query top-k — the production batch-ANN
    // request shape (scored volume ~ nprobe/n_clusters of corpus x queries)
    ("sim_ivf_batch",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.ivfSearchBatchPruned(idx.cells, idx.centroids, queries,
            nprobe = 2, k = 10)
          .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
      },
      Some(s"""$ivfCellCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |scored AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster
             |  JOIN qs q ON q.query_id = p.query_id),
             |rk AS (SELECT query_id, vec_id, sim, ROW_NUMBER() OVER (
             |         PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM scored)
             |SELECT query_id, vec_id, sim FROM rk WHERE rn <= 10
             |ORDER BY query_id, sim DESC, vec_id""".stripMargin)),

    // ANN serving AFTER A TOMBSTONED DELETE (right-to-be-forgotten without
    // rewriting the store): the corpus landed through the incremental
    // maintenance job, every 7th id was tombstoned as one atomic subtree
    // beside the cells store, and serving reads the MASKED store — the
    // broadcast anti-join the pruned paths already run for excludeIds.
    // Full probe makes the answer exact over survivors, so the oracle is
    // the plain top-k with the id filter; deleted ids appearing here would
    // hash-mismatch immediately.
    ("sim_ann_post_delete",
      (s, dir) => {
        val del = DeleteArtifacts.store(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfSearchPruned(del.cells, del.centroids, qv,
          nprobe = 8, k = 20)
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e CROSS JOIN q
             |WHERE e.vec_id % 7 <> 0
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // RANGE (radius) search from the fitted artifacts — FAISS
    // `range_search`: every row at least `minScore` similar, no k. The
    // pruned path's cell-skip rule is a BOUND, not a heuristic —
    // dot(q, x) <= dot(q, mu_c) + ||q||*r_c (Cauchy-Schwarz over the
    // persisted per-cell radius artifact) — so skipped cells provably hold
    // no hits and the pruned answer is EXACT: the oracle is the plain
    // threshold filter. Planning reads centroids + radii (nlist rows,
    // zero corpus bytes); the scan keeps literal PartitionFilters.
    ("sim_ivf_range",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfRangeSearchPruned(idx.cells, idx.centroids,
          idx.radii.get, qv, minScore = 0.25)
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e CROSS JOIN q
             |WHERE ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) >= 0.25
             |ORDER BY score DESC, e.vec_id""".stripMargin)),

    // batch range search: per-query admissible cell sets under the same
    // exact bound, ONE scan of the union of surviving partitions — the
    // oracle stays the plain per-query threshold filter (no index
    // unrolling) precisely because the pruning is provably lossless
    ("sim_ivf_range_batch",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.ivfRangeSearchBatchPruned(idx.cells, idx.centroids,
          idx.radii.get, queries, minScore = 0.25)
      },
      Some("""WITH qs AS (SELECT vec_id AS query_id, embedding AS qv
             |            FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |sc AS (SELECT q.query_id, e.vec_id,
             |         ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |       FROM embeddings e CROSS JOIN qs q)
             |SELECT query_id, vec_id, score FROM sc WHERE score >= 0.25
             |ORDER BY query_id, score DESC, vec_id""".stripMargin)),

    // range search over the INCREMENTAL store after a tombstoned delete:
    // the per-batch radii DELTAS (max-merged by loadRadii) are what keep
    // the skip bound valid on a store that grew after its index was built
    // — build-time radii alone could under-estimate a landed cell's true
    // extent and silently MISS hits. Tombstones need no compensation (a
    // stale-high radius stays a valid bound), so the oracle is the flat
    // threshold filter over the survivors.
    ("sim_range_post_delete",
      (s, dir) => {
        val del = DeleteArtifacts.store(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 1).select(col("embedding").as("qv"))
        Similarity.ivfRangeSearchPruned(del.cells, del.centroids, del.radii,
          qv, minScore = 0.25)
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e CROSS JOIN q
             |WHERE e.vec_id % 7 <> 0
             |  AND ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) >= 0.25
             |ORDER BY score DESC, e.vec_id""".stripMargin)),

    // two-stage IVF-PQ + exact refine (FAISS IndexRefineFlat): ADC over the
    // probed cells' persisted codes shortlists 50 candidates, then ONLY
    // those 50 original vectors are fetched from the same probed cell
    // partitions (pruned scan + broadcast semi join) and exactly re-scored
    // for the final top-20 — the d-float corpus is touched for exactly
    // kCoarse rows per query
    ("sim_ivfpq_refine",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfPqRefineSearch(
          idx.cells, idx.codes, idx.codebooks, idx.centroids, qv,
          nprobe = 2, kCoarse = 50, k = 20)
      },
      Some(s"""$ivfCellCtes,
             |$pqRefinedCbCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |dist AS (SELECT s.id, s.m, cbr.c,
             |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
             |     FROM (SELECT unnest(s.sv) a, unnest(cbr.cbv) b) x) AS d
             |  FROM sub s JOIN a3 ON a3.vec_id = s.id
             |  JOIN probe p ON a3.cluster = p.cluster
             |  JOIN cbr USING (m)),
             |code AS (SELECT id, m, c AS code FROM (
             |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
             |    FROM dist) WHERE rn = 1),
             |qtab AS (SELECT cbr.m, cbr.c,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(cbr.cbv) a, unnest(q.qv[cbr.m*8+1 : cbr.m*8+8]) b) x) AS p
             |  FROM cbr CROSS JOIN q),
             |sc AS (SELECT id, CAST(SUM(CAST(p AS DECIMAL(18,12))) AS DOUBLE) AS score
             |       FROM code JOIN qtab ON code.m = qtab.m AND code.code = qtab.c
             |       GROUP BY id),
             |shortlist AS (SELECT id FROM (SELECT id, ROUND(score, 6) AS score FROM sc) x
             |              ORDER BY score DESC, id LIMIT 50)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN shortlist sl ON sl.id = e.vec_id CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // IVF-PQ + refine through the TWO-LEVEL coarse probe (VERDICT r16
    // #4): the quantized serving path no longer needs the flat centroid
    // table — the probe ranks the 3-group L1, opens the best 2 groups'
    // centroid partitions for the 2 best cells (PARTIAL L1, pinning the
    // coverage trade like sim_ivf_twolevel), then the ADC stage
    // shortlists from the probed cells' persisted codes and the exact
    // stage rescores only the shortlist. At big-nlist geometry this is
    // what lets the PQ/SQ8/binary batch and stream paths serve without
    // the 259 MB flat table the facade already avoids.
    ("sim_ivfpq_twolevel",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfPqRefineSearch(
          idx.cells, idx.codes, idx.codebooks, idx.centroids, qv,
          nprobe = 2, kCoarse = 50, k = 20,
          hierarchy = Some(DenseArtifacts.hierarchy(s, dir)),
          nprobeL1 = Some(2))
      },
      Some(s"""$ivfCellCtes,
             |$coarse2Ctes,
             |$pqRefinedCbCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |l1p AS (SELECT g.gid FROM g2 g CROSS JOIN q
             |        ORDER BY ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |          FROM (SELECT unnest(g.gv) a, unnest(q.qv) b) y), 6) DESC, g.gid
             |        LIMIT 2),
             |probe AS (SELECT t.cid AS cluster FROM gtag t JOIN hh2 h USING (cid) CROSS JOIN q
             |        WHERE t.gid IN (SELECT gid FROM l1p)
             |        ORDER BY ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |          FROM (SELECT unnest(h.cv) a, unnest(q.qv) b) y), 6) DESC, t.cid
             |        LIMIT 2),
             |dist AS (SELECT s.id, s.m, cbr.c,
             |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
             |     FROM (SELECT unnest(s.sv) a, unnest(cbr.cbv) b) x) AS d
             |  FROM sub s JOIN a3 ON a3.vec_id = s.id
             |  JOIN probe p ON a3.cluster = p.cluster
             |  JOIN cbr USING (m)),
             |code AS (SELECT id, m, c AS code FROM (
             |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
             |    FROM dist) WHERE rn = 1),
             |qtab AS (SELECT cbr.m, cbr.c,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(cbr.cbv) a, unnest(q.qv[cbr.m*8+1 : cbr.m*8+8]) b) x) AS p
             |  FROM cbr CROSS JOIN q),
             |sc AS (SELECT id, CAST(SUM(CAST(p AS DECIMAL(18,12))) AS DOUBLE) AS score
             |       FROM code JOIN qtab ON code.m = qtab.m AND code.code = qtab.c
             |       GROUP BY id),
             |shortlist AS (SELECT id FROM (SELECT id, ROUND(score, 6) AS score FROM sc) x
             |              ORDER BY score DESC, id LIMIT 50)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN shortlist sl ON sl.id = e.vec_id CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // IVF + SCALAR-int8 + exact refine (FAISS IndexIVFScalarQuantizer +
    // RefineFlat): the coarse stage scans the probed cells of the
    // persisted BYTE-per-dim store in pure integer arithmetic (bit-exact
    // across engines, 4x less IO than the float corpus), the exact stage
    // touches only the 50-row shortlist from the same probed partitions
    ("sim_ivf_int8_refine",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfInt8RefineSearch(
          idx.int8.get, idx.cells, idx.centroids, qv,
          nprobe = 2, kCoarse = 50, k = 20)
      },
      Some(s"""$ivfCellCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |isc AS (SELECT e.vec_id,
             |    CAST((SELECT SUM(CAST(GREATEST(-127, LEAST(127, round(x.a::DOUBLE * 127))) AS BIGINT) *
             |                     CAST(GREATEST(-127, LEAST(127, round(x.b::DOUBLE * 127))) AS BIGINT))
             |          FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x) AS BIGINT) AS score_i
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster CROSS JOIN q),
             |shortlist AS (SELECT vec_id FROM isc ORDER BY score_i DESC, vec_id LIMIT 50)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN shortlist sl ON sl.vec_id = e.vec_id CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // batch twin of sim_ivf_int8_refine (round 12): the SQ8 two-stage
    // path for a query BATCH as two pruned passes — one integer-scored
    // scan of the probed cells' byte store shortlisting kCoarse per
    // query, one scan of the same cells' float vectors re-scoring only
    // the broadcast shortlist pairs
    ("sim_ivf_int8_refine_batch",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.ivfInt8RefineSearchBatch(
            idx.int8.get, idx.cells, idx.centroids, queries,
            nprobe = 2, kCoarse = 50, k = 10)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some(s"""$ivfCellCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |isc AS (SELECT p.query_id, e.vec_id,
             |    CAST((SELECT SUM(CAST(GREATEST(-127, LEAST(127, round(x.a::DOUBLE * 127))) AS BIGINT) *
             |                     CAST(GREATEST(-127, LEAST(127, round(x.b::DOUBLE * 127))) AS BIGINT))
             |          FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x) AS BIGINT) AS score_i
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster
             |  JOIN qs q ON q.query_id = p.query_id),
             |sl AS (SELECT query_id, vec_id FROM (
             |         SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |           PARTITION BY query_id ORDER BY score_i DESC, vec_id) AS rn
             |         FROM isc) x WHERE rn <= 50),
             |ex AS (SELECT sl.query_id, e.vec_id,
             |         ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |       FROM sl JOIN embeddings e ON e.vec_id = sl.vec_id
             |       JOIN qs q ON q.query_id = sl.query_id),
             |rk2 AS (SELECT query_id, vec_id, score, ROW_NUMBER() OVER (
             |          PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM ex)
             |SELECT query_id, vec_id, score FROM rk2 WHERE rn <= 10
             |ORDER BY query_id, score DESC, vec_id""".stripMargin)),

    // TRAINED-range SQ8 two-stage serving (VERDICT r13 #7 — the FAISS
    // ScalarQuantizer.train() analog): per-dim max-|x| ranges fitted from
    // the corpus (a d-row artifact), byte codes q = round(x/maxabs*127),
    // coarse stage DEQUANTIZES corpus-side and dots the RAW float query
    // (asymmetric-distance SQ), exact refine of the 50-row shortlist.
    // The ranges CTE recomputes the same per-dim MAX the Spark artifact
    // holds — exact and order-invariant on both engines.
    ("sim_sq8_trained",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val ranges = Similarity.int8TrainRanges(emb)
        val store = Similarity.int8EncodeCellsTrained(idx.cells, ranges)
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfInt8TrainedRefineSearch(
          store, ranges, idx.cells, idx.centroids, qv,
          nprobe = 2, kCoarse = 50, k = 20)
      },
      Some(s"""$ivfCellCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |rg AS (SELECT i AS dim, MAX(ABS(x::DOUBLE)) AS ma
             |       FROM (SELECT unnest(embedding) AS x,
             |                    unnest(generate_series(1, len(embedding))) AS i
             |             FROM embeddings) GROUP BY i),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |isc AS (SELECT e.vec_id,
             |    ROUND((SELECT SUM(CASE WHEN r.ma = 0 THEN 0
             |         ELSE GREATEST(-127, LEAST(127, round(x.a::DOUBLE / r.ma * 127)))
             |              * x.b::DOUBLE * r.ma END)
             |       FROM (SELECT unnest(e.embedding) AS a, unnest(q.qv) AS b,
             |                    unnest(generate_series(1, len(e.embedding))) AS i) x
             |       JOIN rg r ON r.dim = x.i) / 127, 6) AS score_c
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster CROSS JOIN q),
             |shortlist AS (SELECT vec_id FROM isc ORDER BY score_c DESC, vec_id LIMIT 50)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN shortlist sl ON sl.vec_id = e.vec_id CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // BINARY (1-bit sign) two-stage serving (r14 — the FAISS
    // IndexBinaryFlat + refine pattern, the cheapest quantized scan in
    // the family ladder: 1 bit/dim = 32x less coarse IO than floats, 8x
    // less than SQ8): corpus signatures packed 64 dims per BIGINT word
    // ([[Similarity.binarySig]]), coarse rank by XOR-popcount Hamming
    // ASCENDING over the probed cells (integer-exact boundary, ties to
    // the lower id), exact refine of the 50-row shortlist. The oracle
    // computes the identical Hamming directly from the float signs —
    // (a > 0) != (b > 0) per dimension — so the bit-packing itself is
    // hash-pinned against an unpacked engine.
    ("sim_bq",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        // the PERSISTED signature store (built+calibrated by
        // buildDenseIndex since r15) — zero encode jobs at query time,
        // like every other fitted serving artifact here
        val store = idx.binary.get
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfBinaryRefineSearch(store, idx.cells, idx.centroids, qv,
          nprobe = 2, kCoarse = 50, k = 20)
      },
      Some(s"""$ivfCellCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |hm AS (SELECT e.vec_id,
             |    (SELECT COUNT(*) FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x
             |     WHERE (x.a > 0) != (x.b > 0)) AS ham
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster CROSS JOIN q),
             |shortlist AS (SELECT vec_id FROM hm ORDER BY ham ASC, vec_id LIMIT 50)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN shortlist sl ON sl.vec_id = e.vec_id CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // batch BINARY two-stage serving (the sim_bq family's production
    // batch shape, mirroring sim_ivf_int8_refine_batch): THREE queries
    // probe per-query, ONE scan of the probed cells' signature
    // partitions Hamming-ranks each row against the queries probing its
    // cell, per-query 50-row shortlists, one exact re-score pass.
    // Parity with the single-query form is BinarySpec-pinned; this pins
    // the batch plan against an unpacked cross-engine Hamming.
    ("sim_bq_batch",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        // the PERSISTED signature store (built+calibrated by
        // buildDenseIndex since r15) — zero encode jobs at query time,
        // like every other fitted serving artifact here
        val store = idx.binary.get
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.ivfBinaryRefineSearchBatch(
            store, idx.cells, idx.centroids, queries,
            nprobe = 2, kCoarse = 50, k = 10)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some(s"""$ivfCellCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |hm AS (SELECT p.query_id, e.vec_id,
             |    (SELECT COUNT(*) FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x
             |     WHERE (x.a > 0) != (x.b > 0)) AS ham
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster
             |  JOIN qs q ON q.query_id = p.query_id),
             |shortlist AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY ham ASC, vec_id) AS rn FROM hm) x WHERE rn <= 50),
             |sc AS (SELECT sl.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |  FROM embeddings e JOIN shortlist sl ON sl.vec_id = e.vec_id
             |  JOIN qs q ON q.query_id = sl.query_id),
             |rk AS (SELECT query_id, vec_id, score, ROW_NUMBER() OVER (
             |         PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM sc)
             |SELECT query_id, vec_id, score FROM rk WHERE rn <= 10
             |ORDER BY query_id, score DESC, vec_id""".stripMargin)),

    // MATRYOSHKA two-stage serving (Kusupati et al. 2022 adaptive
    // retrieval): coarse rank on the leading 16 of 64 coordinates over the
    // probed cells (quarter of the multiply-adds), exact full-dim re-score
    // of only the 50-row shortlist from the same probed partitions
    ("sim_matryoshka_refine",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.matryoshkaRefineSearch(idx.cells, idx.centroids, qv,
          dPrime = 16, nprobe = 2, kCoarse = 50, k = 20)
      },
      Some(s"""$ivfCellCtes,
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |tsc AS (SELECT e.vec_id,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding[1:16]) a, unnest(q.qv[1:16]) b) x), 6) AS cscore
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster CROSS JOIN q),
             |shortlist AS (SELECT vec_id FROM tsc ORDER BY cscore DESC, vec_id LIMIT 50)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN shortlist sl ON sl.vec_id = e.vec_id CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // batch IVF-PQ serving from the persisted codes: THREE queries probe
    // per-query on the centroid artifact (driver-side), ONE scan of the
    // probed cells' CODE partitions, each code row ADC-scored only against
    // the queries probing its cell, bounded per-query top-k — the
    // production batch-ANN shape over M-byte code rows instead of d-float
    // vectors (scored volume ~ nprobe/n_clusters of codes x queries)
    ("sim_ivfpq_batch",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.ivfPqSearchBatchPruned(
            idx.codes, idx.codebooks, idx.centroids, queries, nprobe = 2, k = 10)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some(s"""$ivfCellCtes,
             |$pqRefinedCbCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |pc AS (SELECT DISTINCT cluster FROM probe),
             |dist AS (SELECT s.id, s.m, cbr.c,
             |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
             |     FROM (SELECT unnest(s.sv) a, unnest(cbr.cbv) b) x) AS d
             |  FROM sub s JOIN a3 ON a3.vec_id = s.id
             |  JOIN pc ON a3.cluster = pc.cluster
             |  JOIN cbr USING (m)),
             |code AS (SELECT id, m, c AS code FROM (
             |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
             |    FROM dist) WHERE rn = 1),
             |qtab AS (SELECT q.query_id, cbr.m, cbr.c,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(cbr.cbv) a, unnest(q.qv[cbr.m*8+1 : cbr.m*8+8]) b) x) AS p
             |  FROM cbr CROSS JOIN qs q),
             |sc AS (SELECT p.query_id, code.id,
             |         CAST(SUM(CAST(qt.p AS DECIMAL(18,12))) AS DOUBLE) AS score
             |       FROM code JOIN a3 ON a3.vec_id = code.id
             |       JOIN probe p ON p.cluster = a3.cluster
             |       JOIN qtab qt ON qt.query_id = p.query_id
             |         AND qt.m = code.m AND qt.c = code.code
             |       GROUP BY 1, 2),
             |rk AS (SELECT query_id, id, ROUND(score, 6) AS score, ROW_NUMBER() OVER (
             |         PARTITION BY query_id ORDER BY ROUND(score, 6) DESC, id) AS rn FROM sc)
             |SELECT query_id, id AS vec_id, score FROM rk WHERE rn <= 10
             |ORDER BY query_id, score DESC, vec_id""".stripMargin)),

    // chunk->document embedding pooling (long docs are encoded as chunk
    // embeddings, then mean-pooled + re-normalized into one doc vector —
    // the standard retrieval-corpus building step). 10 consecutive
    // "chunks" per doc; output flattened to (doc, dim, val) rows for the
    // array-free comparator
    ("emb_doc_pooling",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val pooled = Similarity.centroids(
          emb.select((col("vec_id") % 50).as("doc"), col("embedding")),
          clusterCol = "doc", vecCol = "embedding")
        pooled
          .filter(col("doc") < 5)
          .select(col("doc"), posexplode(VectorOps.l2Normalize(col("cv"))).as(Seq("dim", "val")))
          .select(col("doc"), col("dim").cast("long").as("dim"),
            round(col("val").cast("double"), 6).as("val"))
          .orderBy(col("doc"), col("dim"))
      },
      Some("""WITH ex AS (SELECT vec_id % 50 AS doc, unnest(embedding) AS x,
             |              unnest(generate_series(1, len(embedding))) AS i
             |            FROM embeddings WHERE vec_id % 50 < 5),
             |m AS (SELECT doc, i, CAST(AVG(x) AS REAL) AS cx FROM ex GROUP BY 1, 2),
             |centv AS (SELECT doc, list(cx ORDER BY i) AS cv FROM m GROUP BY doc),
             |n AS (SELECT doc, cv,
             |        (SELECT SQRT(SUM(y.a::DOUBLE * y.a::DOUBLE))
             |         FROM (SELECT unnest(cv) AS a) y) AS nm FROM centv),
             |u AS (SELECT doc, nm, unnest(generate_series(1, len(cv))) AS i,
             |             unnest(cv) AS v FROM n)
             |SELECT doc, CAST(i - 1 AS BIGINT) AS dim,
             |       ROUND(CAST(CAST(v::DOUBLE / nm AS REAL) AS DOUBLE), 6) AS val
             |FROM u ORDER BY doc, dim""".stripMargin)),

    // cluster assignment: each vector -> nearest of 10 seed vectors (k-means
    // assign step / IVF cell routing), via the batch kNN join — a MAP-ONLY
    // packed-seed projection (VERDICT r5 "what's wrong" #1: the former
    // per-id ranking window exchanged corpus x k scored rows; PlanShapeSpec
    // asserts the assign plan now carries zero Exchange/Window)
    ("sim_cluster_assign",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val seeds = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("seed_id"), col("embedding").as("sv"))
        Similarity.knnJoin(emb, seeds, k = 1)
          .select(col("vec_id"), col("seed_id").as("cluster"), col("sim"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH seeds AS (SELECT vec_id AS seed_id, embedding AS sv FROM embeddings WHERE vec_id < 10),
             |scored AS (SELECT e.vec_id, s.seed_id,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(s.sv) b) x), 4) AS sim
             |  FROM embeddings e CROSS JOIN seeds s),
             |r AS (SELECT vec_id, seed_id, sim,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, seed_id) AS rn
             |      FROM scored)
             |SELECT vec_id, seed_id AS cluster, sim FROM r WHERE rn = 1
             |ORDER BY vec_id""".stripMargin)),

    // CELL-SKEW mitigation (VERDICT r6 #7): serving over the SPLIT layout
    // (SkewArtifacts: the 80%-hot cell re-clustered into 4 sub-cells) at
    // FULL probe must return exactly the exact top-k — the split loses and
    // duplicates nothing. The oracle is plain exact search (at full probe
    // every layout is exhaustive); the partial-probe WIN of the split —
    // hot-region probes open sub-cell-sized partitions — is measured in
    // SkewCellSpec and the committed skew probe table.
    ("sim_ivf_skew_split",
      (s, dir) => {
        val idx = SkewArtifacts.split(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 1).select(col("embedding").as("qv"))
        Similarity.ivfSearchPruned(idx.cells, idx.centroids, qv,
          nprobe = 1 << 20, k = 20)
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // /getrec analog (reference `app.py:408-415`, `tag_retrieval.py:48-56`):
    // recommend terms related to a seed term — here by doc-set Jaccard
    // co-occurrence over the vocabulary (the relational form of the tag
    // recommender's vocabulary-space kNN)
    ("rec_related_terms",
      (s, dir) => {
        val tok = Lexical.tokens(t(s, dir, "documents"), "doc_id", "text").distinct()
        val sizes = tok.groupBy(col("term")).agg(count(lit(1)).as("n"))
        val seedDocs = tok.filter(col("term") === "spark").select(col("id"))
        val seedN = seedDocs.agg(count(lit(1)).as("seed_n"))
        tok.join(broadcast(seedDocs), Seq("id"))
          .filter(col("term") =!= "spark")
          .groupBy(col("term")).agg(count(lit(1)).as("c"))
          .join(sizes, Seq("term"))
          .crossJoin(broadcast(seedN))
          .select(col("term"),
            round(col("c").cast("double") / (col("n") + col("seed_n") - col("c")), 6).as("jacc"))
          .orderBy(col("jacc").desc, col("term"))
          .limit(10)
      },
      Some("""WITH tok AS (SELECT DISTINCT doc_id AS id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
             |            FROM documents),
             |sz AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY 1),
             |seed AS (SELECT id FROM tok WHERE term = 'spark'),
             |sn AS (SELECT COUNT(*) AS seed_n FROM seed),
             |inter AS (SELECT t.term, COUNT(*) AS c FROM tok t JOIN seed s ON t.id = s.id
             |          WHERE t.term <> 'spark' GROUP BY 1)
             |SELECT i.term, ROUND(i.c * 1.0 / (sz.n + sn.seed_n - i.c), 6) AS jacc
             |FROM inter i JOIN sz ON sz.term = i.term CROSS JOIN sn
             |ORDER BY jacc DESC, i.term LIMIT 10""".stripMargin)),

    // /getrec DENSE form (reference `tag_retrieval.py:48-56`): tag
    // recommendation by exact k-NN over an embedded tag vocabulary. The
    // vocabulary comes from the fitted index's docFreq artifact (the tag
    // list), ordinal-joined to the embedding table (standing in for the
    // reference's encoded tag vectors); scoring is the same scan ->
    // codegen dot -> top-k plan as every dense search
    ("rec_semantic_knn",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // global-order window: intentional — the tag VOCABULARY is a tiny
        // relation (the reference embeds ~hundreds of tags,
        // `tag_retrieval.py:48-56`), so the single-partition ordinal sort
        // is driver-scale; the corpus-sized side below never touches it
        val w = Window.orderBy(col("term"))
        val vocab = SparseArtifacts.unigram(s, dir).docFreq
          .select(col("term"), (row_number().over(w) - 1).cast("long").as("vec_id"))
          .join(emb, Seq("vec_id"))
          .select(col("term"), col("embedding"))
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.scoreAll(vocab, qv, idCol = "term", vecCol = "embedding")
          .select(col("term"), round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("term"))
          .limit(10)
      },
      Some("""WITH terms AS (SELECT DISTINCT term FROM (
             |    SELECT unnest(regexp_extract_all(lower(text), '\w+')) AS term
             |    FROM documents) t),
             |v AS (SELECT term, ROW_NUMBER() OVER (ORDER BY term) - 1 AS vec_id FROM terms),
             |tv AS (SELECT v.term, e.embedding FROM v JOIN embeddings e USING (vec_id)),
             |qd AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT tv.term,
             |  ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |         FROM (SELECT unnest(tv.embedding) a, unnest(qd.qv) b) x), 4) AS score
             |FROM tv CROSS JOIN qd
             |ORDER BY score DESC, tv.term LIMIT 10""".stripMargin)),

    ("w3_running_stats",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("__t"), col("event_id"))
        t(s, dir, "events")
          .filter(col("user_id") < 5)
          .withColumn("__t", unix_micros(col("ts")))
          .withColumn("run_sum",
            sum(col("value").cast(dec186))
              .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
          .withColumn("gap_s", expr("(__t - lag(__t, 1) over "
            + "(partition by user_id order by __t, event_id)) div 1000000"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .select(col("user_id"), col("event_id"), col("run_sum"),
            col("gap_s"), col("next_type"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type, value,
             |                  epoch_us(CAST(ts AS TIMESTAMP)) AS t
             |           FROM events WHERE user_id < 5)
             |SELECT user_id, event_id,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6)))
             |       OVER (PARTITION BY user_id ORDER BY t, event_id
             |             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_sum,
             |  (t - LAG(t, 1) OVER (PARTITION BY user_id ORDER BY t, event_id)) // 1000000 AS gap_s,
             |  LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS next_type
             |FROM e ORDER BY user_id, event_id""".stripMargin)),

    // EXPONENTIAL TIME-DECAY scoring (the recency-weighted feature op of
    // behavioral pipelines): per user, Σ value·exp(-λ·Δt) with Δt measured
    // back from the user's LAST purchase, λ = ln2/3600 (1-hour half-life,
    // passed as an identical decimal literal to both engines — no
    // transcendental λ derivation to diverge). Each exp() result rounds to
    // 8 before the product so a last-ulp libm difference cannot straddle
    // the decimal-sum quantization grid; the per-user sum is decimal-exact.
    ("w4_time_decay",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
        t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .withColumn("__t", unix_micros(col("ts")))
          .withColumn("__tmax", max(col("__t")).over(w))
          .withColumn("__term",
            (col("value") * round(exp(lit(-1.9254088348e-4) *
              ((col("__tmax") - col("__t")) / lit(1e6))), 8))
              .cast("decimal(28,12)"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_purchases"),
            round(sum(col("__term")).cast("double"), 6).as("decayed_value"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS t
             |          FROM events WHERE event_type = 'purchase'),
             |m AS (SELECT user_id, value, t,
             |        MAX(t) OVER (PARTITION BY user_id) AS tmax FROM e)
             |SELECT user_id, COUNT(*) AS n_purchases,
             |  ROUND(CAST(SUM(CAST(value * ROUND(
             |      exp(-0.00019254088348 * ((tmax - t) / 1000000.0)), 8)
             |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS decayed_value
             |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- text analysis (training-data pipeline extension) -----------------

    ("text_langid",
      (s, dir) =>
        TextAnalysis.languageId(s, t(s, dir, "documents"), "doc_id", "text",
            Map("en" -> Seq("the", "a"), "de" -> Seq("der", "die", "das", "und"),
              "es" -> Seq("el", "la"), "fr" -> Seq("le", "et"), "zh" -> Seq("的")))
          .select(col("id"), col("lang_pred"), round(col("conf"), 6).as("conf"))
          .orderBy(col("id")),
      Some("""WITH tok AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
             |            FROM documents),
             |tot AS (SELECT id, COUNT(*) AS n_tok FROM tok GROUP BY 1),
             |lex(cand_lang, term) AS (VALUES ('en','the'),('en','a'),('de','der'),('de','die'),
             |  ('de','das'),('de','und'),('es','el'),('es','la'),('fr','le'),('fr','et'),('zh','的')),
             |m AS (SELECT t.id, l.cand_lang, COUNT(*) AS n_match FROM tok t JOIN lex l USING (term)
             |      GROUP BY 1, 2),
             |sc AS (SELECT m.id, m.cand_lang, m.n_match * 1.0 / tot.n_tok AS ratio,
             |       ROW_NUMBER() OVER (PARTITION BY m.id
             |         ORDER BY m.n_match * 1.0 / tot.n_tok DESC, m.cand_lang) AS rn
             |       FROM m JOIN tot USING (id))
             |SELECT d.doc_id AS id, COALESCE(sc.cand_lang, 'und') AS lang_pred,
             |       ROUND(COALESCE(sc.ratio, 0), 6) AS conf
             |FROM documents d LEFT JOIN (SELECT * FROM sc WHERE rn = 1) sc ON sc.id = d.doc_id
             |ORDER BY id""".stripMargin)),

    ("text_quality",
      (s, dir) =>
        TextAnalysis.qualityScore(t(s, dir, "documents"), "doc_id", "text",
            Seq("the", "a"))
          .select(col("id"), col("n_tokens"),
            round(col("avg_word_len"), 6).as("avg_word_len"),
            round(col("stop_ratio"), 6).as("stop_ratio"),
            round(col("punct_ratio"), 6).as("punct_ratio"),
            round(col("score"), 6).as("score"), col("keep"))
          .orderBy(col("id")),
      Some("""WITH tok AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
             |            FROM documents),
             |st AS (SELECT id, COUNT(*) AS n_tokens,
             |              SUM(CASE WHEN term IN ('the','a') THEN 1 ELSE 0 END) AS n_stop
             |       FROM tok GROUP BY 1),
             |base AS (SELECT doc_id AS id, LENGTH(text) AS n_chars,
             |                LENGTH(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars,
             |                LENGTH(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS punct_chars
             |         FROM documents)
             |SELECT b.id, st.n_tokens,
             |  ROUND(b.alpha_chars * 1.0 / st.n_tokens, 6) AS avg_word_len,
             |  ROUND(st.n_stop * 1.0 / st.n_tokens, 6) AS stop_ratio,
             |  ROUND(b.punct_chars * 1.0 / b.n_chars, 6) AS punct_ratio,
             |  ROUND(0.4 * (st.n_stop * 1.0 / st.n_tokens)
             |      + 0.6 * (LEAST(b.alpha_chars * 1.0 / st.n_tokens, 10.0) / 10.0), 6) AS score,
             |  (st.n_tokens BETWEEN 20 AND 1000) AND (st.n_stop > 0) AS keep
             |FROM base b JOIN st ON st.id = b.id
             |ORDER BY b.id""".stripMargin)),

    // C4 line-level cleanup over a PLANTED multi-line corpus (the
    // synthetic docs are single-line, so each doc gets six lines with a
    // known fate: good / too-short / javascript / good / no-terminal /
    // good-or-curly-poison) — line filter and document gate both pinned
    ("text_c4_clean",
      (s, dir) => {
        val synth = t(s, dir, "documents").select(col("doc_id").as("id"),
          concat_ws("\n",
            concat(col("text"), lit(".")),
            lit("too short"),
            concat(lit("javascript "), col("text"), lit(".")),
            concat(col("text"), lit(" end?")),
            col("text"),
            when(col("doc_id") % 10 === 0, lit("curly { brace."))
              .otherwise(lit("third good line."))).as("text"))
        TextAnalysis.c4Clean(synth, "id", "text").orderBy(col("id"))
      },
      Some("""WITH synth AS (SELECT doc_id AS id,
             |    text || '.' || chr(10) || 'too short' || chr(10)
             |    || 'javascript ' || text || '.' || chr(10)
             |    || text || ' end?' || chr(10) || text || chr(10)
             |    || CASE WHEN doc_id % 10 = 0 THEN 'curly { brace.'
             |            ELSE 'third good line.' END AS text
             |  FROM documents),
             |l AS (SELECT id, text, string_split(text, chr(10)) AS lines FROM synth),
             |k AS (SELECT id, text, lines,
             |        list_filter(lines, x -> regexp_matches(trim(x), '[.!?"]$')
             |          AND len(regexp_extract_all(trim(x), '\S+')) >= 3
             |          AND NOT contains(lower(x), 'javascript')) AS kept
             |      FROM l)
             |SELECT id, array_to_string(kept, chr(10)) AS text_clean,
             |       CAST(len(lines) AS BIGINT) AS n_lines,
             |       CAST(len(kept) AS BIGINT) AS n_kept,
             |       (len(kept) >= 3 AND NOT contains(text, '{')
             |        AND NOT contains(lower(text), 'lorem ipsum')) AS keep_doc
             |FROM k ORDER BY id""".stripMargin)),

    // Gopher quality rules over a planted corpus: %11 docs are all-bullet
    // (bullet-ratio + stop-word rules fire), %13 get a symbol-noise line
    // (symbol/alpha rules), %3 get an ellipsis-ended line (ellipsis
    // rule), everyone else gets a stop-word-bearing closing line; word
    // count varies naturally around the 50-word floor
    ("text_gopher_rules",
      (s, dir) => {
        val synth = t(s, dir, "documents").select(col("doc_id").as("id"),
          when(col("doc_id") % 11 === 0,
            lit("- one bullet\n- two bullet\n- three bullet\n- four bullet"))
          .otherwise(concat_ws("\n",
            col("text"),
            when(col("doc_id") % 13 === 0, lit("# # # # # # # # noise line."))
              .otherwise(lit("A normal closing line and that will be all here.")),
            when(col("doc_id") % 3 === 0, lit("some trailing thoughts..."))
              .otherwise(lit("Final words of the day."))))
          .as("text"))
        TextAnalysis.gopherRules(synth, "id", "text").orderBy(col("id"))
      },
      Some("""WITH synth AS (SELECT doc_id AS id,
             |  CASE WHEN doc_id % 11 = 0 THEN
             |    '- one bullet' || chr(10) || '- two bullet' || chr(10)
             |    || '- three bullet' || chr(10) || '- four bullet'
             |  ELSE text || chr(10)
             |    || CASE WHEN doc_id % 13 = 0 THEN '# # # # # # # # noise line.'
             |            ELSE 'A normal closing line and that will be all here.' END
             |    || chr(10)
             |    || CASE WHEN doc_id % 3 = 0 THEN 'some trailing thoughts...'
             |            ELSE 'Final words of the day.' END
             |  END AS text FROM documents),
             |f AS (SELECT id, text,
             |   regexp_extract_all(text, '\S+') AS w,
             |   string_split(text, chr(10)) AS l,
             |   regexp_extract_all(lower(text), '\w+') AS tok FROM synth),
             |sig AS (SELECT id,
             |   CAST(len(w) AS BIGINT) AS n_words,
             |   CASE WHEN len(w) > 0 THEN
             |     list_sum(list_transform(w, x -> strlen(x))) * 1.0 / len(w) END AS mean_word_len,
             |   CASE WHEN len(w) > 0 THEN
             |     ((strlen(text) - strlen(replace(text, '#', '')))
             |      + (strlen(text) - strlen(replace(text, '...', ''))) / 3)
             |     * 1.0 / len(w) END AS symbol_ratio,
             |   len(list_filter(l, x -> regexp_matches(trim(x), '^[-*]'))) * 1.0 / len(l)
             |     AS bullet_ratio,
             |   len(list_filter(l, x -> regexp_matches(trim(x), '\.\.\.$'))) * 1.0 / len(l)
             |     AS ellipsis_ratio,
             |   CASE WHEN len(w) > 0 THEN
             |     len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) * 1.0 / len(w)
             |   END AS alpha_ratio,
             |   CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
             |     sw -> list_contains(tok, sw))) AS BIGINT) AS n_stop_kinds
             | FROM f)
             |SELECT id, n_words,
             |  ROUND(mean_word_len, 6) AS mean_word_len,
             |  ROUND(symbol_ratio, 6) AS symbol_ratio,
             |  ROUND(bullet_ratio, 6) AS bullet_ratio,
             |  ROUND(ellipsis_ratio, 6) AS ellipsis_ratio,
             |  ROUND(alpha_ratio, 6) AS alpha_ratio, n_stop_kinds,
             |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
             |   AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
             |   AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
             |   AND n_stop_kinds >= 2) AS keep
             |FROM sig ORDER BY id""".stripMargin)),

    // END-TO-END WEB-FILTER pipeline (round 9): C4 line strip -> Gopher
    // document gate -> exact-dedup keeper election, the filter side of
    // the curation story (q36 pins the shard-prep side). Planted corpus:
    // %7 docs share a constant body (the dedup group), %10 docs carry a
    // curly-brace poison line (C4 doc gate), the javascript / too-short /
    // unterminated lines exercise the C4 line filter, and the symbol-
    // noise %13 line SURVIVES C4 (it ends in '.') so the Gopher symbol
    // rule must catch it — the stages interact, which is what this
    // oracle pins
    ("q38_webfilter_e2e",
      (s, dir) => {
        val body60 =
          ("the common body line of repeated and shared words here " * 6).trim + "."
        val synth = t(s, dir, "documents").select(col("doc_id").as("id"),
          concat_ws("\n",
            when(col("doc_id") % 7 === 0, lit(body60))
              .otherwise(concat(col("text"), lit("."))),
            lit("too short"),
            when(col("doc_id") % 13 === 0, lit("# # # # # # # # noise line."))
              .otherwise(concat(lit("javascript "), col("text"), lit("."))),
            when(col("doc_id") % 7 === 0,
                lit("And that will be the shared fourth line here?"))
              .otherwise(concat(col("text"), lit(" end?"))),
            col("text"),
            when(col("doc_id") % 10 === 0, lit("curly { brace."))
              .otherwise(lit("And that should be the third good line.")))
          .as("text"))
        val c4 = TextAnalysis.c4Clean(synth, "id", "text")
          .filter(col("keep_doc"))
          .select(col("id"), col("text_clean"))
        val gq = TextAnalysis.gopherRules(c4, "id", "text_clean")
          .filter(col("keep"))
          .select(col("id"), col("n_words"))
          .join(c4, Seq("id"))
        val w = Window.partitionBy(Dedup.hash60(col("text_clean")))
        gq.withColumn("__keep", min(col("id")).over(w))
          .filter(col("id") === col("__keep"))
          .select(col("id"), col("n_words"))
          .orderBy(col("id"))
      },
      Some("""WITH synth AS (SELECT doc_id AS id,
             |  (CASE WHEN doc_id % 7 = 0 THEN
             |     trim(repeat('the common body line of repeated and shared words here ', 6)) || '.'
             |   ELSE text || '.' END) || chr(10)
             |  || 'too short' || chr(10)
             |  || (CASE WHEN doc_id % 13 = 0 THEN '# # # # # # # # noise line.'
             |      ELSE 'javascript ' || text || '.' END) || chr(10)
             |  || (CASE WHEN doc_id % 7 = 0 THEN 'And that will be the shared fourth line here?'
             |      ELSE text || ' end?' END) || chr(10)
             |  || text || chr(10)
             |  || (CASE WHEN doc_id % 10 = 0 THEN 'curly { brace.'
             |      ELSE 'And that should be the third good line.' END) AS text
             |  FROM documents),
             |c4l AS (SELECT id, text, string_split(text, chr(10)) AS lines FROM synth),
             |c4k AS (SELECT id, text,
             |          list_filter(lines, x -> regexp_matches(trim(x), '[.!?"]$')
             |            AND len(regexp_extract_all(trim(x), '\S+')) >= 3
             |            AND NOT contains(lower(x), 'javascript')) AS kept
             |        FROM c4l),
             |c4 AS (SELECT id, array_to_string(kept, chr(10)) AS text_clean
             |       FROM c4k
             |       WHERE len(kept) >= 3 AND NOT contains(text, '{')
             |         AND NOT contains(lower(text), 'lorem ipsum')),
             |gf AS (SELECT id, text_clean,
             |   regexp_extract_all(text_clean, '\S+') AS w,
             |   string_split(text_clean, chr(10)) AS l,
             |   regexp_extract_all(lower(text_clean), '\w+') AS tok FROM c4),
             |sig AS (SELECT id, text_clean,
             |   CAST(len(w) AS BIGINT) AS n_words,
             |   list_sum(list_transform(w, x -> strlen(x))) * 1.0 / len(w) AS mwl,
             |   ((strlen(text_clean) - strlen(replace(text_clean, '#', '')))
             |    + (strlen(text_clean) - strlen(replace(text_clean, '...', ''))) / 3)
             |   * 1.0 / len(w) AS symr,
             |   len(list_filter(l, x -> regexp_matches(trim(x), '^[-*]'))) * 1.0 / len(l) AS bulr,
             |   len(list_filter(l, x -> regexp_matches(trim(x), '\.\.\.$'))) * 1.0 / len(l) AS ellr,
             |   len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) * 1.0 / len(w) AS alpr,
             |   len(list_filter(['the','be','to','of','and','that','have','with'],
             |     sw -> list_contains(tok, sw))) AS nstop
             | FROM gf WHERE len(w) > 0),
             |gq AS (SELECT id, n_words, text_clean FROM sig
             |       WHERE n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
             |         AND symr <= 0.1 AND bulr <= 0.9 AND ellr <= 0.3
             |         AND alpr >= 0.8 AND nstop >= 2),
             |dd AS (SELECT id, n_words,
             |         ROW_NUMBER() OVER (PARTITION BY text_clean ORDER BY id) AS rn
             |       FROM gq)
             |SELECT id, n_words FROM dd WHERE rn = 1 ORDER BY id""".stripMargin)),

    // BPE tokenizer FIT (Sennrich et al. 2016): six merge rounds over the
    // word-frequency vocabulary — the oracle unrolls the trainer round
    // for round like the k-means Lloyd oracle, so the winning pair, its
    // count-weighted frequency, AND the tie-break are pinned at each step
    ("text_bpe_fit",
      (s, dir) =>
        Lexical.bpeFit(t(s, dir, "documents"), "doc_id", "text", numMerges = 6)
          .orderBy(col("step")),
      Some(s"""WITH ${bpeCtes(6)}
             |SELECT step, pair, CAST(f AS BIGINT) AS freq FROM mm
             |ORDER BY step""".stripMargin)),

    // BPE SEGMENT: apply the fitted 6-rule merge table to every document
    // — the fitted-subword counter the chars/4 heuristic only estimates;
    // the oracle re-fits AND re-applies (d0..d6 fold the same replaces)
    ("text_bpe_segment",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = Lexical.bpeFit(docs, "doc_id", "text", numMerges = 6)
        Lexical.bpeSegment(docs, merges, "doc_id", "text")
          .orderBy(col("id"))
      },
      Some(s"""WITH ${bpeCtes(6)},
             |d0 AS (SELECT doc_id AS id,
             |         CAST(len(regexp_extract_all(lower(text), '\\w+')) AS BIGINT) AS n_words,
             |         array_to_string(list_transform(regexp_extract_all(lower(text), '\\w+'),
             |           w -> array_to_string(string_split(w, ''), ' ') || ' </w>'), ' ') AS s
             |       FROM documents),
             |${(1 to 6).map(i =>
                 s"d$i AS (SELECT id, n_words, trim(replace(' ' || d.s || ' ', " +
                   s"' ' || a.pair || ' ', ' ' || replace(a.pair, ' ', '') || ' ')) AS s " +
                   s"FROM d${i - 1} d CROSS JOIN a$i a)").mkString(",\n")}
             |SELECT id, n_words,
             |  CASE WHEN n_words = 0 THEN 0
             |       ELSE CAST(len(string_split(s, ' ')) AS BIGINT) END AS n_subwords
             |FROM d6 ORDER BY id""".stripMargin)),

    // BPE SEGMENT, replay form FORCED (production-artifact path): the
    // mapPartitions rule-replay kernel a 32k-rule tokenizer routes
    // through (the literal fold would build a 32k-deep Catalyst tree) —
    // hash-pinned here against the SAME nested-replace DuckDB unroll as
    // text_bpe_segment, so the sweep semantics (leftmost non-overlap,
    // post-fuse blocking, residual-pair convention) are oracle-checked
    ("text_bpe_segment_replay",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val rules = Lexical.bpeFit(docs, "doc_id", "text", numMerges = 6)
          .orderBy(col("step")).collect().map(_.getAs[String]("pair"))
        Lexical.bpeSegmentReplay(docs, rules, "doc_id", "text")
          .orderBy(col("id"))
      },
      Some(s"""WITH ${bpeCtes(6)},
             |d0 AS (SELECT doc_id AS id,
             |         CAST(len(regexp_extract_all(lower(text), '\\w+')) AS BIGINT) AS n_words,
             |         array_to_string(list_transform(regexp_extract_all(lower(text), '\\w+'),
             |           w -> array_to_string(string_split(w, ''), ' ') || ' </w>'), ' ') AS s
             |       FROM documents),
             |${(1 to 6).map(i =>
                 s"d$i AS (SELECT id, n_words, trim(replace(' ' || d.s || ' ', " +
                   s"' ' || a.pair || ' ', ' ' || replace(a.pair, ' ', '') || ' ')) AS s " +
                   s"FROM d${i - 1} d CROSS JOIN a$i a)").mkString(",\n")}
             |SELECT id, n_words,
             |  CASE WHEN n_words = 0 THEN 0
             |       ELSE CAST(len(string_split(s, ' ')) AS BIGINT) END AS n_subwords
             |FROM d6 ORDER BY id""".stripMargin)),

    ("text_token_count",
      (s, dir) =>
        TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("id")),
      Some("""SELECT doc_id AS id,
             |  len(string_split(text, ' '))::BIGINT AS n_ws,
             |  len(regexp_extract_all(lower(text), '\w+'))::BIGINT AS n_words,
             |  LENGTH(text)::BIGINT AS n_chars,
             |  CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS est_bpe
             |FROM documents ORDER BY id""".stripMargin)),

    // train/eval contamination gate: corpus docs sharing >=1 distinct
    // 5-gram with the (broadcast) benchmark set — docs 0-9 stand in for the
    // held-out benchmark
    ("text_contamination",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.TextAnalysis.contamination(
          docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
          "doc_id", "text", n = 5, minHits = 1)
          .orderBy(col("id"))
      },
      Some("""WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS toks
             |            FROM documents),
             |idx AS (SELECT id, toks, unnest(generate_series(1, len(toks) - 4)) AS i FROM tok),
             |sh AS (SELECT DISTINCT id,
             |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
             |         toks[i+3] || ' ' || toks[i+4] AS s
             |       FROM idx),
             |hv AS (SELECT id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS hv FROM sh),
             |bset AS (SELECT DISTINCT hv FROM hv WHERE id < 10)
             |SELECT h.id, COUNT(*) AS n_overlap
             |FROM hv h JOIN bset b ON h.hv = b.hv WHERE h.id >= 10
             |GROUP BY h.id HAVING COUNT(*) >= 1 ORDER BY h.id""".stripMargin)),

    ("text_fingerprint",
      (s, dir) =>
        TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("id")),
      Some(s"""$shingleSql,
             |hv AS (SELECT id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS hv FROM sh)
             |SELECT id, MIN(hv) AS fp_min, bit_xor(hv) AS fp_xor, COUNT(*) AS n_shingles
             |FROM hv GROUP BY id ORDER BY id""".stripMargin)),

    // ---- multimodal stub plumbing -----------------------------------------

    ("mm_decode_meta",
      (s, dir) =>
        Multimodal.decodeStub(
            t(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("content")),
            "doc_id", "content")
          .orderBy(col("id")),
      Some(s"""$mmMetaSql
             |SELECT id, width, height, n_frames, duration_s FROM meta ORDER BY id""".stripMargin)),

    // PERCEPTUAL near-dup over the multimodal binary column: WIDE aHash
    // fingerprints (7 words × 18 bits = 126 cells; cell intensities
    // derive from each cell's OWN byte slice — locality-preserving under
    // the stub boundary) through word-per-band Hamming pairing. The
    // 63-bit form's banded join carried an N²/2⁹ per-band candidate term
    // (the named first-to-fail term at the next 100×, BASELINE.md); the
    // 18-bit bands cut per-band collisions 512× with the pigeonhole
    // exact-recall guarantee intact (7 words > maxHamming 6). The
    // planted mutants differ in one trailing byte -> a handful of bits
    // -> every (original, mutant) pair must surface; the oracle verifies
    // the full 126-cell construction AND the pair set by all-pairs
    // summed XOR popcount over the words.
    // ORACLE PARITY PIN: aHashWide slices BYTES (BINARY), while DuckDB
    // cannot slice BLOBs, so the oracle's substr/strlen over VARCHAR
    // agrees only when text is pure ASCII (bytes == chars). The
    // assert_true below makes the query THROW (not silently diverge) if
    // the generated corpus ever grows non-ASCII text — flip the oracle
    // to a hex-expansion form if that happens. The operator itself is
    // byte-defined for arbitrary binary; only the oracle needs the pin.
    ("mm_phash_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(coalesce(
            expr("assert_true(octet_length(text) = length(text), " +
              "'mm_phash_dedup oracle requires ASCII text (byte==char)')"),
            lit(true)))
        val mutated = docs.select((col("doc_id") + 100000L).as("doc_id"),
          concat(expr("substring(text, 1, length(text) - 1)"), lit("q")).as("text"))
        val corpus = docs.select(col("doc_id"), col("text")).unionByName(mutated)
        // geometry PINNED at 7x18/maxHamming-6 because the oracle SQL
        // unrolls exactly 126 cells; production callers size it from the
        // corpus instead via Multimodal.aHashAutoParams(n) (the sizing
        // sweep + e2e pairing at auto geometry are DedupSpec-pinned)
        val fp = Multimodal.aHashWide(
          corpus.select(col("doc_id"), col("text").cast("binary").as("content")),
          "doc_id", "content", bands = 7, bandBits = 18)
        Dedup.hammingPairsBandedWide(fp, maxHamming = 6)
          .orderBy(col("i"), col("j"))
      },
      Some("""WITH corpus AS (SELECT doc_id AS id, text FROM documents
             |                UNION ALL
             |                SELECT doc_id + 100000, substr(text, 1, strlen(text) - 1) || 'q'
             |                FROM documents),
             |t AS (SELECT id, text, strlen(text) AS L FROM corpus),
             |idx AS (SELECT id, text, L, unnest(generate_series(0, 125)) AS i FROM t),
             |c AS (SELECT id, i,
             |        CAST('0x' || substr(md5(substr(text, 1 + (i * L) // 126,
             |          ((i + 1) * L) // 126 - (i * L) // 126)), 1, 15) AS BIGINT) % 1000 AS x
             |      FROM idx),
             |s AS (SELECT id, SUM(x) AS tot FROM c GROUP BY 1),
             |fpw AS (SELECT c.id, c.i // 18 AS w,
             |          SUM(CASE WHEN c.x * 126 > s.tot
             |              THEN (CAST(1 AS BIGINT) << (c.i % 18)) ELSE 0 END) AS word
             |        FROM c JOIN s USING (id) GROUP BY 1, 2)
             |SELECT a.id AS i, b.id AS j,
             |       CAST(SUM(bit_count(xor(a.word, b.word))) AS BIGINT) AS hamming
             |FROM fpw a JOIN fpw b ON a.id < b.id AND a.w = b.w
             |GROUP BY 1, 2 HAVING SUM(bit_count(xor(a.word, b.word))) <= 6
             |ORDER BY i, j""".stripMargin)),

    // aspect-preserving fit into 640x480, integer-only arithmetic (scale in
    // basis points, floor division) — engine-portable unlike float scaling
    ("mm_resize",
      (s, dir) =>
        Multimodal.resizeMeta(
          Multimodal.decodeStub(
            t(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("content")),
            "doc_id", "content"),
          maxW = 640, maxH = 480)
          .orderBy(col("id")),
      Some(s"""$mmMetaSql,
             |r AS (SELECT id, width, height,
             |        LEAST((640 * 10000) // width, (480 * 10000) // height, 10000) AS s
             |      FROM meta)
             |SELECT id, width, height,
             |       width * s // 10000 AS new_width,
             |       height * s // 10000 AS new_height
             |FROM r ORDER BY id""".stripMargin)),

    ("mm_frame_sample",
      (s, dir) => {
        val meta = Multimodal.decodeStub(
          t(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("content")),
          "doc_id", "content")
        Multimodal.sampleFrames(meta, every = 30)
          .groupBy(col("id"), col("n_frames"))
          .agg(count(lit(1)).as("n_sampled"))
          .orderBy(col("id"))
      },
      Some(s"""$mmMetaSql
             |SELECT id, n_frames, (n_frames - 1) // 30 + 1 AS n_sampled FROM meta
             |ORDER BY id""".stripMargin)),

    ("mm_audio_segments",
      (s, dir) => {
        val meta = Multimodal.decodeStub(
          t(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("content")),
          "doc_id", "content")
        Multimodal.audioSegments(meta).orderBy(col("id"))
      },
      Some(s"""$mmMetaSql
             |SELECT id, duration_s, CAST(CEIL(duration_s / 10.0) AS BIGINT) AS n_segments
             |FROM meta ORDER BY id""".stripMargin)),

    // ---- T2/T3 hierarchy browse -------------------------------------------

    // reference /getvideoshot (`app.py:499-541`): slice the shot sequence of
    // one video to [sel-5, sel+5] by ordinal — here: user 7's event sequence
    // around ordinal 20
    ("t2_shot_neighborhood",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .filter(col("user_id") === 7)
          .withColumn("rn", row_number().over(w))
          .filter(abs(col("rn") - 20) <= 5)
          .select(col("rn").cast("long").as("rn"), col("event_id"), col("event_type"),
            epochMs(col("ts")).as("ms"))
          .orderBy(col("rn"))
      },
      Some("""SELECT rn, event_id, event_type, ms FROM (
             |  SELECT event_id, event_type, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
             |         ROW_NUMBER() OVER (PARTITION BY user_id
             |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
             |  FROM events WHERE user_id = 7) x
             |WHERE ABS(rn - 20) <= 5 ORDER BY rn""".stripMargin)),

    // reference /relatedimg (`app.py:417-497`): everything in the hit's shot
    // minus the hit itself — here: events sharing the anchor's (user, hour).
    // Anchor 81 chosen because its (user, hour) bucket is NON-empty at both
    // gate scale factors (sf0.01 and sf0.1) — the previous anchor (500)
    // returned 0 rows at both, making the green cell vacuous (VERDICT r3/r4
    // #3): both engines agreeing on "empty" proves nothing about the join.
    ("t3_related_items",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val anchor = ev.filter(col("event_id") === 81)
          .select(col("user_id"),
            date_trunc("hour", col("ts")).as("__bucket"))
        ev.join(broadcast(anchor), Seq("user_id"))
          .filter(date_trunc("hour", col("ts")) === col("__bucket") &&
            col("event_id") =!= 81)
          .select(col("event_id"), col("event_type"), epochMs(col("ts")).as("ms"))
          .orderBy(col("event_id"))
      },
      Some("""WITH anchor AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket
             |                FROM events WHERE event_id = 81)
             |SELECT e.event_id, e.event_type, epoch_ms(CAST(e.ts AS TIMESTAMP)) AS ms
             |FROM events e JOIN anchor a ON e.user_id = a.user_id
             |WHERE date_trunc('hour', CAST(e.ts AS TIMESTAMP)) = a.bucket AND e.event_id <> 81
             |ORDER BY e.event_id""".stripMargin)),

    // ---- A7 dominance histogram / C11 JSON / F8 path parse / C5 norms -----

    // reference color-dominance histogram (`metadata/color.ipynb` cell 7):
    // per cell keep colors covering > threshold of pixels — here: per user
    // keep event types covering > 21% of their events
    ("a7_dominance_histogram",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val counts = ev.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val totals = ev.groupBy(col("user_id")).agg(count(lit(1)).as("total"))
        counts.join(totals, Seq("user_id"))
          .withColumn("share", col("cnt").cast("double") / col("total"))
          .filter(col("share") > 0.21)
          .select(col("user_id"), col("event_type"), col("cnt"),
            round(col("share"), 6).as("share"))
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2),
             |t AS (SELECT user_id, COUNT(*) AS total FROM events GROUP BY 1)
             |SELECT c.user_id, c.event_type, c.cnt, ROUND(c.cnt * 1.0 / t.total, 6) AS share
             |FROM c JOIN t ON c.user_id = t.user_id
             |WHERE c.cnt * 1.0 / t.total > 0.21
             |ORDER BY c.user_id, c.event_type""".stripMargin)),

    ("c11_json_extract",
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
            (sum(col("k")).cast("double") / count(lit(1))).as("k_avg"))
          .select(col("event_type"), col("n"), col("k_sum"), round(col("k_avg"), 6).as("k_avg"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS n,
             |       CAST(SUM(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS k_sum,
             |       ROUND(SUM(json_extract_string(props, '$.k')::BIGINT) * 1.0 / COUNT(*), 6) AS k_avg
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // reference keyframe path parser (`utils/search_utils.py:8-58`):
    // build 'L<coll>/V<video>/<frame>.jpg' paths, then parse them back
    ("f8_parse_paths",
      (s, dir) =>
        t(s, dir, "events")
          .filter(col("event_id") < 100)
          .withColumn("path", concat(
            lit("L"), lpad((col("user_id") % 30 + 21).cast("string"), 2, "0"),
            lit("/V"), lpad((col("event_id") % 1000).cast("string"), 3, "0"),
            lit("/"), col("event_id").cast("string"), lit(".jpg")))
          .select(col("event_id"), col("path"),
            regexp_extract(col("path"), "L(\\d+)/V(\\d+)/(\\d+)\\.jpg", 1).cast("int").as("coll"),
            regexp_extract(col("path"), "L(\\d+)/V(\\d+)/(\\d+)\\.jpg", 2).cast("int").as("vid"),
            regexp_extract(col("path"), "L(\\d+)/V(\\d+)/(\\d+)\\.jpg", 3).cast("long").as("frame"))
          .orderBy(col("event_id")),
      Some("""WITH p AS (SELECT event_id,
             |  'L' || lpad(CAST(user_id % 30 + 21 AS VARCHAR), 2, '0') ||
             |  '/V' || lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0') ||
             |  '/' || CAST(event_id AS VARCHAR) || '.jpg' AS path
             |  FROM events WHERE event_id < 100)
             |SELECT event_id, path,
             |  CAST(regexp_extract(path, 'L(\d+)/V(\d+)/(\d+)\.jpg', 1) AS INT) AS coll,
             |  CAST(regexp_extract(path, 'L(\d+)/V(\d+)/(\d+)\.jpg', 2) AS INT) AS vid,
             |  CAST(regexp_extract(path, 'L(\d+)/V(\d+)/(\d+)\.jpg', 3) AS BIGINT) AS frame
             |FROM p ORDER BY event_id""".stripMargin)),

    // S1 scan + C5 build-time L2 normalization invariant
    ("s1_scan_norms",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"),
            round(graft.functions.VectorOps.l2Norm(col("embedding")), 6).as("norm"))
          .orderBy(col("vec_id")),
      Some("""SELECT vec_id, len(embedding) AS dim,
             |  ROUND((SELECT SQRT(SUM(x.a::DOUBLE * x.a::DOUBLE))
             |         FROM (SELECT unnest(embedding) AS a) x), 6) AS norm
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ---- §3.1 / §3.2 full endpoint compositions ---------------------------

    // /textsearch with `clip && clipv2` (reference `app.py:330-357`): two
    // dense channels (second model simulated by the reversed embedding
    // space), each top-100, A1 min-max fusion, A4 group-by-"video" (label)
    ("q31_textsearch_dual",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"), reverse(col("embedding")).as("qv2"))
        def channel(scoreCol: Column) =
          emb.crossJoin(broadcast(qv))
            .select(col("vec_id").as("id"), round(scoreCol, 4).as("score"))
            .orderBy(col("score").desc, col("id"))
            .limit(100)
        val chA = channel(VectorOps.dot(col("embedding"), col("qv")))
        val chB = channel(VectorOps.dot(reverse(col("embedding")), col("qv2")))
        val fused = Fusion.fuseByAddition(Seq(chA, chB))
          .select(col("id"), round(col("score"), 6).as("score"))
        val withLabel = fused
          .join(emb.select(col("vec_id").as("id"), col("label")), Seq("id"))
        GroupShaping.groupResultsCsv(withLabel, "label", "id", "score")
      },
      Some("""WITH q AS (SELECT embedding AS qv, list_reverse(embedding) AS qv2
             |           FROM embeddings WHERE vec_id = 0),
             |cha AS (SELECT e.vec_id AS id,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x), 4) AS score
             |  FROM embeddings e CROSS JOIN q ORDER BY score DESC, id LIMIT 100),
             |chb AS (SELECT e.vec_id AS id,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(list_reverse(e.embedding)) a, unnest(q.qv2) b) x), 4) AS score
             |  FROM embeddings e CROSS JOIN q ORDER BY score DESC, id LIMIT 100),
             |na AS (SELECT id, (score - MIN(score) OVER ()) /
             |              (MAX(score) OVER () - MIN(score) OVER () + 1e-6) AS score FROM cha),
             |nb AS (SELECT id, (score - MIN(score) OVER ()) /
             |              (MAX(score) OVER () - MIN(score) OVER () + 1e-6) AS score FROM chb),
             |fused AS (SELECT id, ROUND(SUM(score), 6) AS score
             |          FROM (SELECT * FROM na UNION ALL SELECT * FROM nb) u GROUP BY id),
             |lab AS (SELECT f.id, f.score, e.label FROM fused f JOIN embeddings e ON e.vec_id = f.id)
             |SELECT label, MAX(score) AS best_score,
             |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY score DESC, id) AS ids_csv,
             |       string_agg(CAST(CAST(ROUND(score * 1e6) AS BIGINT) AS VARCHAR), ','
             |                  ORDER BY score DESC, id) AS scores_csv
             |FROM lab GROUP BY label ORDER BY best_score DESC, label""".stripMargin)),

    // /panel multi-channel context search (reference `app.py:368-406`,
    // `faiss_processing.py:234-277`): heterogeneous sparse channels (tf-idf
    // text, exact source match, length prior) fused by A1
    ("q32_panel_multichannel",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val chText = Lexical.tfidfSearchIndexed(s, SparseArtifacts.unigram(s, dir),
            Seq("spark", "join"))
          .select(col("id"), round(col("score"), 6).as("score"))
        val chSrc = docs.filter(col("source").isin("src7", "src8"))
          .select(col("doc_id").as("id"), lit(1.0).as("score"))
        val chLen = docs.select(col("doc_id").as("id"), col("n_chars").cast("double").as("score"))
        Fusion.fuseByAddition(Seq(chText, chSrc, chLen))
          .select(col("id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(20)
      },
      Some(s"""$tokSql,
             |nrm AS (SELECT id, term, w / SQRT(SUM(w*w) OVER (PARTITION BY id)) AS w FROM wgt),
             |qt(term) AS (VALUES ('spark'), ('join')),
             |q AS (SELECT t.term, 1.0 * (LN((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS qw
             |      FROM qt t JOIN dfreq d USING (term) CROSS JOIN nn),
             |qn AS (SELECT SQRT(SUM(qw*qw)) AS qnorm FROM q),
             |cht AS (SELECT id, ROUND(SUM(nrm.w * q.qw / qn.qnorm), 6) AS score
             |        FROM nrm JOIN q USING (term) CROSS JOIN qn GROUP BY id),
             |chs AS (SELECT doc_id AS id, 1.0 AS score FROM documents WHERE source IN ('src7','src8')),
             |chl AS (SELECT doc_id AS id, n_chars * 1.0 AS score FROM documents),
             |n1 AS (SELECT id, (score - MIN(score) OVER ()) /
             |             (MAX(score) OVER () - MIN(score) OVER () + 1e-6) AS score FROM cht),
             |n2 AS (SELECT id, (score - MIN(score) OVER ()) /
             |             (MAX(score) OVER () - MIN(score) OVER () + 1e-6) AS score FROM chs),
             |n3 AS (SELECT id, (score - MIN(score) OVER ()) /
             |             (MAX(score) OVER () - MIN(score) OVER () + 1e-6) AS score FROM chl)
             |SELECT id, ROUND(SUM(score), 6) AS score
             |FROM (SELECT * FROM n1 UNION ALL SELECT * FROM n2 UNION ALL SELECT * FROM n3) u
             |GROUP BY id ORDER BY score DESC, id LIMIT 20""".stripMargin)),

    // /panel with a REAL grid-token channel (C7 -> S13 -> A1): each doc gets
    // a deterministic synthetic bbox context of two `{cell}{class}` tokens
    // (md5-derived, engine-portable); the query box (0,0,0.5,0.5)="person"
    // encodes via GridEncoding to the 16 tokens a0person..d3person, scored
    // by tf-idf over that channel and fused with the text channel
    ("q33_panel_grid_channel",
      (s, dir) => {
        val queryTokens = graft.functions.GridEncoding.encodeBoxes(Seq(
          (graft.functions.GridEncoding.Box(0, 0, 0.5, 0.5), "person"))).split(" ").toSeq
        // both sparse channels served from ONE fitted (ch, term)-keyed
        // index (writeMultiIndex builds it once per run), then keyed A1
        // fusion — N channels at the query cost of one term-pruned scan
        val multi = Lexical.tfidfSearchMultiIndexed(s, SparseArtifacts.panel(s, dir), Seq(
          ("bbox", queryTokens),
          ("tag", Seq("spark", "join"))))
          .select(col("ch"), col("id"), round(col("score"), 6).as("score"))
        Fusion.fuseByAdditionKeyed(multi)
          .select(col("id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(20)
      },
      Some {
        val cellCsv = graft.functions.GridEncoding.cells.map(_._1).mkString(",")
        val clsCsv = "person,bicycle,car,motorcycle,airplane,bus,train,truck,boat,trafficlight"
        val qToks = graft.functions.GridEncoding.encodeBoxes(Seq(
          (graft.functions.GridEncoding.Box(0, 0, 0.5, 0.5), "person"))).split(" ")
          .map(t => s"('$t')").mkString(", ")
        s"""WITH bbox_docs AS (SELECT doc_id AS id,
           |  list_extract(string_split('$cellCsv', ','), CAST(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 49 + 1 AS INT)) ||
           |  list_extract(string_split('$clsCsv', ','), CAST(CAST('0x' || substr(md5(text), 9, 8) AS BIGINT) % 10 + 1 AS INT)) || ' ' ||
           |  list_extract(string_split('$cellCsv', ','), CAST(CAST('0x' || substr(md5(text), 17, 8) AS BIGINT) % 49 + 1 AS INT)) ||
           |  list_extract(string_split('$clsCsv', ','), CAST(CAST('0x' || substr(md5(text), 25, 8) AS BIGINT) % 10 + 1 AS INT)) AS bbox_text
           |  FROM documents),
           |btok AS (SELECT id, unnest(regexp_extract_all(lower(bbox_text), '\\w+')) AS term FROM bbox_docs),
           |bpost AS (SELECT id, term, COUNT(*) AS tf FROM btok GROUP BY 1, 2),
           |bdf AS (SELECT term, COUNT(*) AS df FROM bpost GROUP BY 1),
           |nn AS (SELECT COUNT(*) AS n FROM documents),
           |bw AS (SELECT p.id, p.term, p.tf * (LN((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS w
           |       FROM bpost p JOIN bdf d USING (term) CROSS JOIN nn),
           |bnrm AS (SELECT id, term, w / SQRT(SUM(w*w) OVER (PARTITION BY id)) AS w FROM bw),
           |bqt(term) AS (VALUES $qToks),
           |bq AS (SELECT t.term, 1.0 * (LN((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS qw
           |       FROM bqt t JOIN bdf d USING (term) CROSS JOIN nn),
           |bqn AS (SELECT SQRT(SUM(qw*qw)) AS qnorm FROM bq),
           |ch_bbox AS (SELECT id, ROUND(SUM(bnrm.w * bq.qw / bqn.qnorm), 6) AS score
           |            FROM bnrm JOIN bq USING (term) CROSS JOIN bqn GROUP BY id),
           |ttok AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '\\w+')) AS term FROM documents),
           |tpost AS (SELECT id, term, COUNT(*) AS tf FROM ttok GROUP BY 1, 2),
           |tdf AS (SELECT term, COUNT(*) AS df FROM tpost GROUP BY 1),
           |tw AS (SELECT p.id, p.term, p.tf * (LN((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS w
           |       FROM tpost p JOIN tdf d USING (term) CROSS JOIN nn),
           |tnrm AS (SELECT id, term, w / SQRT(SUM(w*w) OVER (PARTITION BY id)) AS w FROM tw),
           |tqt(term) AS (VALUES ('spark'), ('join')),
           |tq AS (SELECT t.term, 1.0 * (LN((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS qw
           |       FROM tqt t JOIN tdf d USING (term) CROSS JOIN nn),
           |tqn AS (SELECT SQRT(SUM(qw*qw)) AS qnorm FROM tq),
           |ch_tag AS (SELECT id, ROUND(SUM(tnrm.w * tq.qw / tqn.qnorm), 6) AS score
           |           FROM tnrm JOIN tq USING (term) CROSS JOIN tqn GROUP BY id),
           |n1 AS (SELECT id, (score - MIN(score) OVER ()) /
           |             (MAX(score) OVER () - MIN(score) OVER () + 1e-6) AS score FROM ch_bbox),
           |n2 AS (SELECT id, (score - MIN(score) OVER ()) /
           |             (MAX(score) OVER () - MIN(score) OVER () + 1e-6) AS score FROM ch_tag)
           |SELECT id, ROUND(SUM(score), 6) AS score
           |FROM (SELECT * FROM n1 UNION ALL SELECT * FROM n2) u
           |GROUP BY id ORDER BY score DESC, id LIMIT 20""".stripMargin
      }),

    // dense-speech composed query (reference `speech_retrieval.py:98-110`
    // `caculate_semantic` + `faiss_processing.py:194-231`): dense top-k over
    // ASR-segment embeddings, J5 scatter-sum through the segment->doc
    // bridge, A1 fusion with the sparse speech-transcript channel (served
    // from the fitted index)
    ("q34_speech_dual",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        // dense channel: top-100 segments, scattered to parent docs
        // (bridge: 10 consecutive segments per doc) and summed exactly
        val segTop = Similarity.scoreAll(emb, qv)
          .select(col("vec_id"), round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(100)
        val chDense = segTop
          .groupBy((col("vec_id") % 50).as("id"))
          .agg(sum(col("score").cast(dec186)).cast("double").as("score"))
          .select(col("id"), round(col("score"), 6).as("score"))
        // sparse transcript channel: fitted-index tf-idf (no corpus scan)
        val chSparse = Lexical.tfidfSearchIndexed(s, SparseArtifacts.unigram(s, dir),
            Seq("spark", "table"))
          .select(col("id"), round(col("score"), 6).as("score"))
        Fusion.fuseByAddition(Seq(chDense, chSparse))
          .select(col("id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(20)
      },
      Some(s"""$tokSql,
             |nrm AS (SELECT id, term, w / SQRT(SUM(w*w) OVER (PARTITION BY id)) AS w FROM wgt),
             |qt(term) AS (VALUES ('spark'), ('table')),
             |q AS (SELECT t.term, 1.0 * (LN((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS qw
             |      FROM qt t JOIN dfreq d USING (term) CROSS JOIN nn),
             |qn AS (SELECT SQRT(SUM(qw*qw)) AS qnorm FROM q),
             |chs AS (SELECT id, ROUND(SUM(nrm.w * q.qw / qn.qnorm), 6) AS score
             |        FROM nrm JOIN q USING (term) CROSS JOIN qn GROUP BY id),
             |qd AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |seg AS (SELECT e.vec_id,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(qd.qv) b) x), 4) AS score
             |  FROM embeddings e CROSS JOIN qd ORDER BY score DESC, vec_id LIMIT 100),
             |chd AS (SELECT id, ROUND(score, 6) AS score FROM (
             |  SELECT vec_id % 50 AS id,
             |         CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS score
             |  FROM seg GROUP BY 1) x),
             |n1 AS (SELECT id, (score - MIN(score) OVER ()) /
             |             (MAX(score) OVER () - MIN(score) OVER () + 1e-6) AS score FROM chd),
             |n2 AS (SELECT id, (score - MIN(score) OVER ()) /
             |             (MAX(score) OVER () - MIN(score) OVER () + 1e-6) AS score FROM chs)
             |SELECT id, ROUND(SUM(score), 6) AS score
             |FROM (SELECT * FROM n1 UNION ALL SELECT * FROM n2) u
             |GROUP BY id ORDER BY score DESC, id LIMIT 20""".stripMargin)),

    // C2 unicode accent strip (reference vectorizer strip_accents,
    // `object_retrieval.py:64-73`) — codepoint translate, engine-portable
    ("c2_accent_strip",
      (s, dir) => {
        import s.implicits._
        Seq("café", "naïve", "über", "señor", "élève crème")
          .toDF("s")
          .select(col("s"),
            translate(col("s"),
              "áàâäãéèêëíìîïóòôöõúùûüñç", "aaaaaeeeeiiiiooooouuuunc").as("stripped"))
          .orderBy(col("s"))
      },
      Some("""WITH v(s) AS (VALUES ('café'), ('naïve'), ('über'), ('señor'), ('élève crème'))
             |SELECT s, translate(s, 'áàâäãéèêëíìîïóòôöõúùûüñç', 'aaaaaeeeeiiiiooooouuuunc') AS stripped
             |FROM v ORDER BY s""".stripMargin)),

    // PII scrubbing (training-data hygiene): emails/phones synthesized from
    // events, redacted with global regex replacement, with per-row counts
    ("text_redact_pii",
      (s, dir) =>
        t(s, dir, "events")
          .filter(col("event_id") < 200)
          .withColumn("raw", concat(
            lit("contact user"), col("user_id"), lit(" at u"), col("user_id"),
            lit("@example.com or +1-555-"),
            lpad((col("event_id") % 10000).cast("string"), 4, "0")))
          .select(col("event_id"),
            regexp_replace(
              regexp_replace(col("raw"), "[a-z0-9._%+-]+@[a-z0-9.-]+", "<EMAIL>"),
              "\\+[0-9][0-9-]{7,}", "<PHONE>").as("redacted"),
            size(expr("regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+', 0)"))
              .cast("long").as("n_emails"))
          .orderBy(col("event_id")),
      Some("""SELECT event_id,
             |  regexp_replace(regexp_replace(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
             |                 '\+[0-9][0-9-]{7,}', '<PHONE>', 'g') AS redacted,
             |  len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+'))::BIGINT AS n_emails
             |FROM (SELECT event_id,
             |        'contact user' || user_id || ' at u' || user_id ||
             |        '@example.com or +1-555-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') AS raw
             |      FROM events WHERE event_id < 200) x
             |ORDER BY event_id""".stripMargin)),

    // column profiling (pipeline observability): per-column cardinality /
    // null / range stats as one small profile relation
    // linear-counting cardinality sketch (Whang et al. 1990) over the
    // portable hash: m=1024 buckets, estimate = -m * ln(empty/m). Unlike
    // HLL implementations the sketch is engine-deterministic, so estimate
    // AND exact cross-check hash-match; sketch state is a fixed 1024-bucket
    // set per group — mergeable, map-side-combinable, constant memory at
    // any corpus size
    ("profile_approx_distinct",
      (s, dir) => {
        val m = 1024
        val buckets = t(s, dir, "events")
          .select(col("event_type"),
            (Dedup.hash60(col("user_id").cast("string")) % m).as("b"))
          .distinct()
          .groupBy(col("event_type")).agg(count(lit(1)).as("used"))
        buckets.select(col("event_type"),
          round(-lit(m.toDouble) * log((lit(m) - col("used")).cast("double") / m), 2)
            .as("approx_distinct"))
          .join(
            t(s, dir, "events").groupBy(col("event_type"))
              .agg(countDistinct(col("user_id")).as("exact_distinct")),
            Seq("event_type"))
          .orderBy(col("event_type"))
      },
      Some("""WITH b AS (SELECT DISTINCT event_type,
             |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 1024 AS b
             |  FROM events),
             |used AS (SELECT event_type, COUNT(*) AS used FROM b GROUP BY 1),
             |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
             |       FROM events GROUP BY 1)
             |SELECT u.event_type,
             |       ROUND(-1024.0 * LN((1024 - u.used)::DOUBLE / 1024), 2) AS approx_distinct,
             |       ex.exact_distinct
             |FROM used u JOIN ex USING (event_type) ORDER BY event_type""".stripMargin)),

    // salted equi-join (hot-key mitigation): replicating the build side
    // across 8 salts must produce the identical join result — here the
    // events->orders scatter-sum of j5, salted
    ("skew_salted_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("value").cast("decimal(18,6)").as("v"), col("event_id"))
        val cust = t(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        graft.operators.Skew.saltedJoin(ev, cust, "user_id",
            leftSaltSource = col("event_id"), salts = 8)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("value_sum"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // two-phase salted aggregation (hot-key mitigation): result must equal
    // the plain groupBy sum — decimal partials keep it engine-exact
    ("skew_salted_sum",
      (s, dir) =>
        graft.operators.Skew.saltedSum(t(s, dir, "events"),
          col("event_type"), col("value").cast("decimal(18,6)"),
          pmod(col("event_id"), lit(16)))
          .select(col("key").as("event_type"), col("sum").cast("double").as("value_sum"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ZIPF PROFILE (data-card family): the corpus term-frequency power law
    // — natural text fits ln(freq) ~ s*ln(rank) with s ~ -1; templated or
    // machine-generated corpora bend the curve, so the fitted slope is a
    // one-number whole-corpus quality signal. One tokenize pass; the
    // regression runs over the top-100 terms with decimal-exact sums.
    ("profile_zipf",
      (s, dir) =>
        TextAnalysis.zipfProfile(t(s, dir, "documents"), "text", topK = 100),
      Some("""WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '\w+')) AS term
             |            FROM documents),
             |tc AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS n_terms, CAST(SUM(c) AS BIGINT) AS n_tokens FROM tc),
             |top AS (SELECT ln(r) AS x, ln(c) AS y FROM (
             |    SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS r FROM tc) z
             |  WHERE r <= 100),
             |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k,
             |        CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             |        CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             |        CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             |        CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
             |      FROM top)
             |SELECT t.n_terms, t.n_tokens,
             |       ROUND((s.k * s.sxy - s.sx * s.sy) /
             |             (s.k * s.sxx - s.sx * s.sx), 6) AS zipf_slope
             |FROM tot t CROSS JOIN s""".stripMargin)),

    ("profile_stats",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        def prof(c: String) = li.agg(
          lit(c).as("column_name"),
          count(lit(1)).as("n"),
          countDistinct(col(c)).as("n_distinct"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
          round(min(col(c)).cast("double"), 4).as("min_v"),
          round(max(col(c)).cast("double"), 4).as("max_v"))
        prof("l_quantity").unionByName(prof("l_discount"))
          .unionByName(prof("l_extendedprice"))
          .orderBy(col("column_name"))
      },
      Some("""SELECT * FROM (
             |  SELECT 'l_quantity' AS column_name, COUNT(*) AS n,
             |         COUNT(DISTINCT l_quantity) AS n_distinct,
             |         CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |         ROUND(CAST(MIN(l_quantity) AS DOUBLE), 4) AS min_v,
             |         ROUND(CAST(MAX(l_quantity) AS DOUBLE), 4) AS max_v FROM lineitem
             |  UNION ALL
             |  SELECT 'l_discount', COUNT(*), COUNT(DISTINCT l_discount),
             |         CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |         ROUND(CAST(MIN(l_discount) AS DOUBLE), 4),
             |         ROUND(CAST(MAX(l_discount) AS DOUBLE), 4) FROM lineitem
             |  UNION ALL
             |  SELECT 'l_extendedprice', COUNT(*), COUNT(DISTINCT l_extendedprice),
             |         CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |         ROUND(CAST(MIN(l_extendedprice) AS DOUBLE), 4),
             |         ROUND(CAST(MAX(l_extendedprice) AS DOUBLE), 4) FROM lineitem) p
             |ORDER BY column_name""".stripMargin)),

    // ---- streaming / sessionization ---------------------------------------

    ("stream_window_counts",
      (s, dir) => graft.streaming.EventsStreaming.windowedCounts(s, dir),
      Some("""SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS window_ms,
             |       event_type, COUNT(*) AS n,
             |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
             |FROM events GROUP BY 1, 2 ORDER BY window_ms, event_type""".stripMargin)),

    // ---- curation (extension): reproducible sampling / split / pipeline ---

    // hash-based train/val/test assignment: membership depends only on
    // (salt, id) — identical across engines, runs, and cluster sizes
    ("curation_split_counts",
      (s, dir) =>
        graft.operators.Curation.assignSplit(
          t(s, dir, "documents"), "doc_id", "v1",
          Seq(("train", 9000), ("val", 9500), ("test", 10000)))
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("source"), col("split")),
      Some("""WITH k AS (SELECT source,
             |  CAST('0x' || substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS key
             |  FROM documents)
             |SELECT source,
             |  CASE WHEN key < 9000 THEN 'train' WHEN key < 9500 THEN 'val' ELSE 'test' END AS split,
             |  COUNT(*) AS n
             |FROM k GROUP BY 1, 2 ORDER BY source, split""".stripMargin)),

    // the composed curation pipeline: quality gate -> exact dedup (keep
    // lowest id per content hash) -> deterministic 50% sample
    ("curation_pipeline",
      (s, dir) =>
        graft.operators.Curation.curate(
          t(s, dir, "documents"), "doc_id", "text",
          minChars = 100, maxWords = 80, sampleBp = 5000, salt = "cur")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy(col("doc_id")),
      Some("""WITH gated AS (SELECT * FROM documents
             |  WHERE len(text) >= 100
             |    AND len(regexp_extract_all(lower(text), '\w+')) <= 80),
             |kept AS (SELECT * FROM (
             |    SELECT g.*, MIN(doc_id) OVER (
             |      PARTITION BY CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)) AS keep
             |    FROM gated g) WHERE doc_id = keep),
             |s AS (SELECT * FROM kept
             |  WHERE CAST('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 < 5000)
             |SELECT doc_id, source, n_chars FROM s ORDER BY doc_id""".stripMargin)),

    // CCNet-style LM quality gate, ARTIFACT-FED: the bigram/unigram postings
    // come from the persisted fitted indexes (SparseArtifacts — one corpus
    // tokenize at build time, ever), so the gate's count/instance/vocab
    // branches re-aggregate postings-sized parquet and the raw corpus is
    // never re-tokenized (VERDICT r3 #2 / r4 #2: the raw-docs lmQuality
    // form tokenizes per branch by design; this is the production path)
    ("text_lm_quality",
      (s, dir) => {
        val lm = SparseArtifacts.lm(s, dir)
        TextAnalysis.lmQualityFromModel(
          SparseArtifacts.bigram(s, dir).postings
            .select(col("id"), col("term").as("ngram"), col("tf")),
          lm.bgCounts, lm.uniCounts, lm.vocab)
          .select(col("id"), col("n_bigrams"),
            round(col("lm_logprob"), 6).as("lm_logprob"))
          .orderBy(col("id"))
      },
      Some("""WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS toks
             |            FROM documents),
             |i2 AS (SELECT id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tok),
             |bg AS (SELECT id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS ngram FROM i2),
             |bgc AS (SELECT ngram, COUNT(*) AS c_bg FROM bg GROUP BY 1),
             |uni AS (SELECT unnest(regexp_extract_all(lower(text), '\w+')) AS term FROM documents),
             |unic AS (SELECT term, COUNT(*) AS c_uni FROM uni GROUP BY 1),
             |vv AS (SELECT COUNT(DISTINCT term) AS v FROM uni)
             |SELECT id, COUNT(*) AS n_bigrams,
             |  ROUND(CAST(SUM(CAST(LN((c_bg + 1.0) / (c_uni + v)) AS DECIMAL(28,12))) AS DOUBLE)
             |        / COUNT(*), 6) AS lm_logprob
             |FROM bg JOIN bgc USING (ngram) JOIN unic ON unic.term = bg.w1 CROSS JOIN vv
             |GROUP BY id ORDER BY id""".stripMargin)),

    // applying the drop set: the step every dedup pipeline ends with —
    // pairs -> canonical keep-ids -> anti-join the non-keepers out of the
    // corpus; reported as surviving docs per source
    ("dedup_drop_apply",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = MinhashArtifacts.pairs(s, dir)
        val dropIds = Dedup.canonicalIds(pairs.select(col("i"), col("j")))
          .filter(col("id") =!= col("keep_id"))
          .select(col("id").as("doc_id"))
        // plain (unhinted) anti join, NOT Candidates.exclude: a near-dup
        // drop set is corpus-proportional (30%+ of a web crawl), far past
        // broadcast size — let the planner pick the strategy
        docs.join(dropIds, Seq("doc_id"), "left_anti")
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source"))
      },
      Some((s"""$minhashJacSql,
             |prs AS (SELECT i, j FROM jac WHERE jaccard >= 0.5),
             |edges AS (SELECT i AS a, j AS b FROM prs UNION ALL SELECT j AS a, i AS b FROM prs),
             |nodes AS (SELECT DISTINCT a AS id FROM edges),
             |reach AS (SELECT id, id AS r FROM nodes
             |          UNION
             |          SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
             |comp AS (SELECT id, MIN(r) AS keep_id FROM reach GROUP BY id),
             |drop_ids AS (SELECT id FROM comp WHERE id <> keep_id)
             |SELECT source, COUNT(*) AS n_docs FROM documents
             |WHERE doc_id NOT IN (SELECT id FROM drop_ids)
             |GROUP BY source ORDER BY source""").stripMargin.replaceFirst("WITH ", "WITH RECURSIVE "))),

    // leakage-safe splitting: near-dup components land in ONE split (split
    // key = component representative), so paraphrase-twins can't straddle
    // the train/eval boundary — the dedup-aware form of assignSplit
    ("curation_leakage_safe_split",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = MinhashArtifacts.pairs(s, dir)
        Curation.leakageSafeSplit(docs, pairs.select(col("i"), col("j")),
            "doc_id", "ls", Seq(("train", 9000), ("val", 9500), ("test", 10000)))
          .select(col("doc_id"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some((s"""$minhashJacSql,
             |prs AS (SELECT i, j FROM jac WHERE jaccard >= 0.5),
             |edges AS (SELECT i AS a, j AS b FROM prs UNION ALL SELECT j AS a, i AS b FROM prs),
             |nodes AS (SELECT DISTINCT a AS id FROM edges),
             |reach AS (SELECT id, id AS r FROM nodes
             |          UNION
             |          SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
             |comp AS (SELECT id, MIN(r) AS keep_id FROM reach GROUP BY id),
             |rep AS (SELECT d.doc_id, COALESCE(c.keep_id, d.doc_id) AS rp
             |        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
             |k AS (SELECT doc_id,
             |        CAST('0x' || substr(md5('ls:' || CAST(rp AS VARCHAR)), 1, 15) AS BIGINT)
             |          % 10000 AS key FROM rep)
             |SELECT doc_id, CASE WHEN key < 9000 THEN 'train'
             |                    WHEN key < 9500 THEN 'val'
             |                    ELSE 'test' END AS split
             |FROM k ORDER BY doc_id""").stripMargin.replaceFirst("WITH ", "WITH RECURSIVE "))),

    // domain balancing: cap every source at 15 docs, chosen by hash rank
    // (deterministic, growth-stable) — no single domain dominates the mix
    ("curation_domain_cap",
      (s, dir) =>
        Curation.capPerSource(t(s, dir, "documents"), "doc_id", "source",
            cap = 15, salt = "cap1")
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept"),
            min(col("doc_id")).as("min_kept_id"))
          .orderBy(col("source")),
      Some("""WITH rk AS (SELECT source, doc_id, ROW_NUMBER() OVER (
             |    PARTITION BY source
             |    ORDER BY CAST('0x' || substr(md5('cap1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             |             % 10000 ASC, doc_id ASC) AS r
             |  FROM documents)
             |SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS min_kept_id
             |FROM rk WHERE r <= 15 GROUP BY source ORDER BY source""".stripMargin)),

    // exact per-group quantiles (profiling): p50/p90/p99 of event value per
    // type by rank selection — deterministic in any engine (no
    // interpolation, no approx sketch); the documented scale path is a
    // mergeable quantile sketch, the exact form is the oracle
    ("profile_quantiles",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
        val ranked = t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        def pick(p: Double, name: String) =
          max(when(col("rn") === ceil(col("n") * p).cast("int"), col("value"))).as(name)
        ranked.groupBy(col("event_type"))
          .agg(pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"))
          .orderBy(col("event_type"))
      },
      Some("""WITH rk AS (SELECT event_type, value, ROW_NUMBER() OVER (
             |    PARTITION BY event_type ORDER BY value, event_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY event_type) AS n
             |  FROM events)
             |SELECT event_type,
             |  MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS INT) THEN value END) AS p50,
             |  MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS INT) THEN value END) AS p90,
             |  MAX(CASE WHEN rn = CAST(CEIL(n * 0.99) AS INT) THEN value END) AS p99
             |FROM rk GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // per-source DATA CARD (the datasheet a corpus release ships): doc and
    // token volumes, language spread, exact rank-selection token-length
    // quantiles — PLUS the two numbers a corpus datasheet actually leads
    // with (round 9): the span-dedup rate (fraction of each source's
    // tokens covered by corpus-duplicate spans, from duplicateSpans
    // coverage) and the contamination rate (fraction of each source's
    // docs carrying >= 1 benchmark-overlapping span, bench = the
    // text_decontaminate_spans convention). One grouped pass over the
    // profile stats joined to two corpus-linear span passes per source.
    ("profile_data_card",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("n_tok",
            size(expr("regexp_extract_all(lower(text), '\\\\w+', 0)")).cast("long"))
          // the C6 quality gate (qualityScore's keep) as a per-row flag, so
          // the card can report the keep RATE a release datasheet quotes
          .withColumn("q_keep",
            (col("n_tok").between(20, 1000) &&
              size(expr("filter(regexp_extract_all(lower(text), '\\\\w+', 0), " +
                "x -> x IN ('the', 'a'))")) > 0).cast("int"))
        val w = Window.partitionBy(col("source")).orderBy(col("n_tok"), col("doc_id"))
        val ranked = docs
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
        def pick(p: Double, name: String) =
          max(when(col("rn") === ceil(col("n") * p).cast("int"), col("n_tok"))).as(name)
        val card = ranked.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            sum(col("n_chars")).as("sum_chars"),
            countDistinct(col("lang")).as("n_langs"),
            pick(0.5, "p50_tokens"), pick(0.9, "p90_tokens"),
            round(avg(col("q_keep")), 6).as("quality_keep_rate"))
        val corp = docs.select(col("doc_id").as("id"), col("text"))
        val dupCov = Dedup.duplicateSpans(corp, "id", "text", k = 5)
          .groupBy(col("id"))
          .agg(sum(col("span_end") - col("span_start") + 1).as("dup_tok"))
          .withColumnRenamed("id", "doc_id")
        val bench = docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("id"),
            expr("array_join(slice(regexp_extract_all(lower(text), '\\\\w+', 0), 1, " +
              "size(regexp_extract_all(lower(text), '\\\\w+', 0)) div 2), ' ')")
              .as("text"))
        val contamIds = Dedup.contaminatedSpans(corp, bench, k = 5)
          .select(col("id").as("doc_id")).distinct()
          .withColumn("is_contam", lit(1L))
        val rates = docs.select(col("doc_id"), col("source"), col("n_tok"))
          .join(dupCov, Seq("doc_id"), "left")
          .join(contamIds, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(
            round(sum(coalesce(col("dup_tok"), lit(0L))) * lit(1.0)
              / sum(col("n_tok")), 6).as("dedup_rate"),
            round(sum(coalesce(col("is_contam"), lit(0L))) * lit(1.0)
              / count(lit(1)), 6).as("contam_rate"))
        // per-source Zipf slope (TextAnalysis.zipfProfile grouped by
        // source): templated sources bend away from the ~-1 power law
        val wz = Window.partitionBy(col("source"))
          .orderBy(col("c").desc, col("term").asc)
        def dsum(c: Column) = sum(c.cast("decimal(28,12)")).cast("double")
        val zipf = docs
          .select(col("source"),
            explode(expr("regexp_extract_all(lower(text), '\\\\w+', 0)")).as("term"))
          .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
          .withColumn("r", row_number().over(wz)).filter(col("r") <= 100)
          .select(col("source"), log(col("r")).as("x"), log(col("c")).as("y"))
          .groupBy(col("source"))
          .agg(count(lit(1)).cast("double").as("k"),
            dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
            dsum(col("x") * col("y")).as("sxy"), dsum(col("x") * col("x")).as("sxx"))
          .select(col("source"),
            round((col("k") * col("sxy") - col("sx") * col("sy")) /
              (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
        // left join: a source with no \w+ tokens has no Zipf ranks but
        // must still appear on the card (NULL slope), not vanish from it
        card.join(rates, Seq("source")).join(zipf, Seq("source"), "left")
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT source, doc_id, lang, n_chars,
             |    CAST(len(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS n_tok,
             |    len(list_filter(regexp_extract_all(lower(text), '\w+'),
             |        x -> x IN ('the', 'a'))) AS q_stop
             |  FROM documents),
             |rk AS (SELECT *, ROW_NUMBER() OVER (
             |    PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY source) AS n FROM d),
             |card AS (SELECT source, COUNT(*) AS n_docs,
             |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |    COUNT(DISTINCT lang) AS n_langs,
             |    MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS INT) THEN n_tok END) AS p50_tokens,
             |    MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS INT) THEN n_tok END) AS p90_tokens,
             |    ROUND(AVG(CASE WHEN n_tok BETWEEN 20 AND 1000 AND q_stop > 0
             |              THEN 1 ELSE 0 END), 6) AS quality_keep_rate
             |  FROM rk GROUP BY source),
             |tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS a
             |        FROM documents),
             |idx AS (SELECT id, a, unnest(generate_series(1, len(a) - 4)) AS i
             |        FROM tok WHERE len(a) >= 5),
             |sh AS (SELECT id, i AS st, array_to_string(a[i:i+4], ' ') AS s FROM idx),
             |rk2 AS (SELECT id, st,
             |          ROW_NUMBER() OVER (PARTITION BY s ORDER BY id, st) AS rn,
             |          COUNT(*) OVER (PARTITION BY s) AS cnt FROM sh),
             |dup AS (SELECT id, st FROM rk2 WHERE cnt >= 2 AND rn > 1),
             |brk AS (SELECT id, st,
             |          CASE WHEN st - LAG(st) OVER (PARTITION BY id ORDER BY st) <= 5
             |               THEN 0 ELSE 1 END AS b FROM dup),
             |grp AS (SELECT id, st, SUM(b) OVER (PARTITION BY id ORDER BY st) AS g
             |        FROM brk),
             |spans AS (SELECT id, g, MIN(st) AS s0, MAX(st) + 4 AS s1
             |          FROM grp GROUP BY id, g),
             |dcov AS (SELECT id, SUM(s1 - s0 + 1) AS dup_tok FROM spans GROUP BY id),
             |btok AS (SELECT regexp_extract_all(lower(text), '\w+') AS a0
             |         FROM documents WHERE doc_id % 10 = 0),
             |bha AS (SELECT a0[1 : len(a0) // 2] AS a FROM btok),
             |bsh AS (SELECT DISTINCT array_to_string(a[i:i+4], ' ') AS s
             |        FROM (SELECT a, unnest(generate_series(1, len(a) - 4)) AS i
             |              FROM bha WHERE len(a) >= 5)),
             |cids AS (SELECT DISTINCT id FROM sh WHERE s IN (SELECT s FROM bsh)),
             |pd AS (SELECT d.source, d.doc_id, d.n_tok,
             |         COALESCE(dc.dup_tok, 0) AS dup_tok,
             |         CASE WHEN ci.id IS NOT NULL THEN 1 ELSE 0 END AS is_c
             |       FROM d LEFT JOIN dcov dc ON dc.id = d.doc_id
             |              LEFT JOIN cids ci ON ci.id = d.doc_id),
             |rates AS (SELECT source,
             |            ROUND(SUM(dup_tok) * 1.0 / SUM(n_tok), 6) AS dedup_rate,
             |            ROUND(SUM(is_c) * 1.0 / COUNT(*), 6) AS contam_rate
             |          FROM pd GROUP BY source),
             |ztc AS (SELECT source, term, COUNT(*) AS c FROM
             |         (SELECT source, unnest(regexp_extract_all(lower(text), '\w+')) AS term
             |          FROM documents) GROUP BY 1, 2),
             |ztop AS (SELECT source, ln(r) AS x, ln(c) AS y FROM (
             |    SELECT source, c, ROW_NUMBER() OVER (
             |      PARTITION BY source ORDER BY c DESC, term ASC) AS r FROM ztc) z
             |  WHERE r <= 100),
             |zs AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS k,
             |         CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             |         CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             |         CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             |         CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
             |       FROM ztop GROUP BY source),
             |zipf AS (SELECT source, ROUND((k * sxy - sx * sy) /
             |                              (k * sxx - sx * sx), 6) AS zipf_slope
             |         FROM zs)
             |SELECT card.*, rates.dedup_rate, rates.contam_rate, zipf.zipf_slope
             |FROM card JOIN rates USING (source) LEFT JOIN zipf USING (source)
             |ORDER BY source""".stripMargin)),

    // per-document token-distribution entropy — the within-doc diversity
    // signal the repetition ratios approximate from the other side:
    // near-zero entropy = boilerplate / keyword stuffing / generation
    // loops. One tokenize pass; per-doc decimal-exact sum.
    ("text_entropy",
      (s, dir) =>
        TextAnalysis.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("id")),
      Some("""WITH tok AS (SELECT doc_id AS id,
             |    unnest(regexp_extract_all(lower(text), '\w+')) AS term FROM documents),
             |tc AS (SELECT id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
             |wn AS (SELECT id, term, c, SUM(c) OVER (PARTITION BY id) AS n FROM tc)
             |SELECT id, CAST(MAX(n) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
             |  ROUND(-1.0 * CAST(SUM(CAST((c / (n * 1.0)) * log2(c / (n * 1.0))
             |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS entropy
             |FROM wn GROUP BY id ORDER BY id""".stripMargin)),

    // NAIVE-BAYES quality classifier — the fastText-style trusted-corpus
    // discriminator the GPT-3/CCNet pipelines run beside the heuristic
    // and LM gates (weak label here: lang='en' as the trusted class).
    // The whole chain is pinned: add-one-smoothed per-term LLRs (round-8
    // — ln's last-ulp libm differences sit far below the grain, the
    // log2-DCG convention), broadcast-model scoring, per-doc decimal-
    // exact mean with OOV-neutral denominator semantics, NULL for
    // token-less docs.
    ("text_nb_classifier",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val model = TextAnalysis.nbQualityFit(
          docs.withColumn("trusted", col("lang") === "en"),
          "doc_id", "text", "trusted")
        TextAnalysis.nbQualityScore(docs, model, "doc_id", "text")
          .orderBy(col("id"))
      },
      Some("""WITH tok AS (SELECT doc_id AS id, lang = 'en' AS pos,
             |    unnest(regexp_extract_all(lower(text), '\w+')) AS term FROM documents),
             |cnt AS (SELECT term, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS tfp,
             |               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS tfn
             |        FROM tok GROUP BY 1),
             |tot AS (SELECT SUM(tfp) AS np, SUM(tfn) AS nn, COUNT(*) AS v FROM cnt),
             |model AS (SELECT term,
             |    ROUND(ln((tfp + 1) / (np + v)) - ln((tfn + 1) / (nn + v)), 8) AS llr
             |  FROM cnt CROSS JOIN tot),
             |n AS (SELECT doc_id AS id,
             |    CAST(len(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |s AS (SELECT t.id, CAST(SUM(CAST(m.llr AS DECIMAL(28,12))) AS DOUBLE) AS sm
             |      FROM tok t JOIN model m USING (term) GROUP BY 1)
             |SELECT n.id, n.n_tokens,
             |  CASE WHEN n.n_tokens > 0
             |       THEN ROUND(COALESCE(s.sm, 0.0) / n.n_tokens, 6) END AS nb_score
             |FROM n LEFT JOIN s USING (id) ORDER BY id""".stripMargin)),

    // GPT-3's document-selection rule end to end (Brown et al. 2020
    // App. A): NB classifier score -> sigmoid probability -> keep iff
    // pareto(9) > 1 - p, with the Pareto draw DETERMINISTIC via the
    // portable hash's inverse-transform (Lomax quantile, round-8
    // boundary). Quality-tilted keeps without a hard-threshold cliff;
    // the oracle re-derives classifier, sigmoid, hash-u, draw, and the
    // keep boundary.
    ("curation_classifier_resample",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val model = TextAnalysis.nbQualityFit(
          docs.withColumn("trusted", col("lang") === "en"),
          "doc_id", "text", "trusted")
        val scored = TextAnalysis.nbQualityScore(docs, model, "doc_id", "text")
          .withColumn("p_trusted",
            round(lit(1.0) / (lit(1.0) + exp(-col("nb_score"))), 6))
        Curation.classifierResample(scored, "id", "p_trusted")
          .select(col("id"), col("p_trusted"), col("pareto_draw"), col("kept"))
          .orderBy(col("id"))
      },
      Some("""WITH tok AS (SELECT doc_id AS id, lang = 'en' AS pos,
             |    unnest(regexp_extract_all(lower(text), '\w+')) AS term FROM documents),
             |cnt AS (SELECT term, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS tfp,
             |               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS tfn
             |        FROM tok GROUP BY 1),
             |tot AS (SELECT SUM(tfp) AS np, SUM(tfn) AS nn, COUNT(*) AS v FROM cnt),
             |model AS (SELECT term,
             |    ROUND(ln((tfp + 1) / (np + v)) - ln((tfn + 1) / (nn + v)), 8) AS llr
             |  FROM cnt CROSS JOIN tot),
             |n AS (SELECT doc_id AS id,
             |    CAST(len(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |s AS (SELECT t.id, CAST(SUM(CAST(m.llr AS DECIMAL(28,12))) AS DOUBLE) AS sm
             |      FROM tok t JOIN model m USING (term) GROUP BY 1),
             |sc AS (SELECT n.id, CASE WHEN n.n_tokens > 0
             |         THEN ROUND(COALESCE(s.sm, 0.0) / n.n_tokens, 6) END AS nb
             |       FROM n LEFT JOIN s USING (id)),
             |pr AS (SELECT id, CASE WHEN nb IS NOT NULL
             |         THEN ROUND(1.0 / (1.0 + exp(-nb)), 6) END AS p_trusted FROM sc),
             |rs AS (SELECT id, p_trusted,
             |    ROUND(pow(1.0 - (('0x' || substr(md5('resample:' || CAST(id AS VARCHAR)),
             |      1, 15))::BIGINT % 1000000) / 1000000.0, -1.0/9) - 1.0, 8) AS pareto_draw
             |  FROM pr)
             |SELECT id, p_trusted, pareto_draw,
             |  CASE WHEN pareto_draw > 1.0 - COALESCE(p_trusted, 0.0)
             |       THEN 1 ELSE 0 END AS kept
             |FROM rs ORDER BY id""".stripMargin)),

    // Gopher-style repetition gate: per-doc bigram repetition signals
    // (top-ngram share, repeated-ngram share) — boilerplate/loop detection
    ("text_repetition",
      (s, dir) =>
        TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text", n = 2)
          .orderBy(col("id")),
      Some("""WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS toks
             |            FROM documents),
             |i2 AS (SELECT id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tok),
             |g AS (SELECT id, toks[i] || ' ' || toks[i+1] AS ngram FROM i2),
             |pc AS (SELECT id, ngram, COUNT(*) AS c FROM g GROUP BY 1, 2)
             |SELECT id, CAST(SUM(c) AS BIGINT) AS n_ngrams,
             |  ROUND(MAX(c) * 1.0 / CAST(SUM(c) AS BIGINT), 6) AS top_frac,
             |  ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) * 1.0
             |        / CAST(SUM(c) AS BIGINT), 6) AS dup_frac
             |FROM pc GROUP BY id ORDER BY id""".stripMargin)),

    // sliding token-window chunking (the front half of chunk -> embed ->
    // pool; emb_doc_pooling is the back half): 32-token windows every 16,
    // integer-only chunk arithmetic, last chunk short, every token covered
    ("text_chunk_windows",
      (s, dir) =>
        TextAnalysis.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
            windowTokens = 32, strideTokens = 16)
          .orderBy(col("id"), col("chunk_id")),
      Some("""WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS a
             |             FROM documents),
             |nz AS (SELECT id, a, len(a) AS n FROM tok WHERE len(a) >= 1),
             |nc AS (SELECT id, a, n,
             |         CASE WHEN n <= 32 THEN 1 ELSE 1 + (n - 32 + 15) // 16 END AS m
             |       FROM nz),
             |j AS (SELECT id, a, n, unnest(generate_series(0, m - 1)) AS cid FROM nc),
             |c AS (SELECT id, cid AS chunk_id, cid * 16 + 1 AS chunk_start,
             |        a[cid * 16 + 1 : LEAST(cid * 16 + 32, n)] AS ch
             |      FROM j)
             |SELECT id, chunk_id, chunk_start,
             |       CAST(len(ch) AS BIGINT) AS n_chunk_tokens,
             |       array_to_string(ch, ' ') AS chunk_text
             |FROM c ORDER BY id, chunk_id""".stripMargin)),

    // corpus-novelty (cross-document complement of text_repetition): per
    // doc, the fraction of its trigram instances that are the corpus-wide
    // FIRST occurrence — fresh pages score high, mirrors/templates low
    ("text_novelty",
      (s, dir) =>
        TextAnalysis.novelty(t(s, dir, "documents"), "doc_id", "text", n = 3)
          .orderBy(col("id")),
      Some("""WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS a
             |             FROM documents),
             |idx AS (SELECT id, a, unnest(generate_series(1, len(a) - 2)) AS i
             |        FROM tok WHERE len(a) >= 3),
             |sh AS (SELECT id, i AS st, array_to_string(a[i:i+2], ' ') AS s FROM idx),
             |rk AS (SELECT id, st,
             |         ROW_NUMBER() OVER (PARTITION BY s ORDER BY id, st) AS rn FROM sh)
             |SELECT id, COUNT(*) AS n_ngrams,
             |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |       ROUND(CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
             |FROM rk GROUP BY id ORDER BY id""".stripMargin)),

    // sqrt-temperature source mixing (multi-source data-mixing step):
    // per-source sampling rates toward a 200-row mix + the deterministic
    // hash-membership sample they induce
    ("curation_temperature_mix",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val rates = Curation.temperatureMixRates(docs, "source", targetRows = 200L)
        val sampled = Curation
          .temperatureSample(docs, "doc_id", "source", targetRows = 200L,
            salt = "mix1", rates = Some(rates))
          .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
        rates
          .join(broadcast(sampled), Seq("source"), "left")
          .select(col("source"), col("n"), col("rate_bp"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
          .orderBy(col("source"))
      },
      Some("""WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
             |z AS (SELECT CAST(SUM(CAST(SQRT(n) AS DECIMAL(28,12))) AS DOUBLE) AS z FROM c),
             |r AS (SELECT source, n,
             |        LEAST(10000, CAST(FLOOR(SQRT(n) / z.z * 200.0 / n * 10000.0) AS BIGINT)) AS rate_bp
             |      FROM c CROSS JOIN z),
             |smp AS (SELECT d.source, COUNT(*) AS n_sampled
             |        FROM documents d JOIN r USING (source)
             |        WHERE CAST('0x' || substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             |              % 10000 < rate_bp
             |        GROUP BY 1)
             |SELECT r.source, r.n, r.rate_bp, COALESCE(smp.n_sampled, 0) AS n_sampled
             |FROM r LEFT JOIN smp USING (source) ORDER BY source""".stripMargin)),

    // cluster-balanced temperature mixing (topic balancing): nearest-seed
    // assignment (the sim_cluster_assign argmin, map-only) + per-CLUSTER
    // sqrt-temperature resampling — rebalances topics INSIDE one source,
    // which the source-label mix above cannot do. Oracle composes the
    // argmin CTE with the rate/membership SQL of curation_temperature_mix.
    ("curation_cluster_mix",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val seeds = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("seed_id"), col("embedding").as("sv"))
        val withC = emb.join(
          Similarity.knnJoin(emb, seeds, k = 1)
            .select(col("vec_id"), col("seed_id").as("cluster")),
          Seq("vec_id"))
        val rates = Curation.temperatureMixRates(withC, "cluster", targetRows = 200L)
        val sampled = Curation
          .clusterTemperatureSample(emb, seeds, targetRows = 200L, salt = "cmix")
          .groupBy(col("cluster")).agg(count(lit(1)).as("n_sampled"))
        rates.join(broadcast(sampled), Seq("cluster"), "left")
          .select(col("cluster"), col("n"), col("rate_bp"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
          .orderBy(col("cluster"))
      },
      Some("""WITH seeds AS (SELECT vec_id AS seed_id, embedding AS sv
             |               FROM embeddings WHERE vec_id < 8),
             |scored AS (SELECT e.vec_id, s.seed_id,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(s.sv) b) x), 4) AS sim
             |  FROM embeddings e CROSS JOIN seeds s),
             |asg AS (SELECT vec_id, seed_id AS cluster FROM (
             |          SELECT vec_id, seed_id, ROW_NUMBER() OVER (
             |            PARTITION BY vec_id ORDER BY sim DESC, seed_id) AS rn
             |          FROM scored) WHERE rn = 1),
             |c AS (SELECT cluster, COUNT(*) AS n FROM asg GROUP BY 1),
             |z AS (SELECT CAST(SUM(CAST(SQRT(n) AS DECIMAL(28,12))) AS DOUBLE) AS z FROM c),
             |r AS (SELECT cluster, n,
             |        LEAST(10000, CAST(FLOOR(SQRT(n) / z.z * 200.0 / n * 10000.0) AS BIGINT)) AS rate_bp
             |      FROM c CROSS JOIN z),
             |smp AS (SELECT a.cluster, COUNT(*) AS n_sampled
             |        FROM asg a JOIN r USING (cluster)
             |        WHERE CAST('0x' || substr(md5('cmix:' || CAST(a.vec_id AS VARCHAR)), 1, 15) AS BIGINT)
             |              % 10000 < rate_bp
             |        GROUP BY 1)
             |SELECT r.cluster, r.n, r.rate_bp, COALESCE(smp.n_sampled, 0) AS n_sampled
             |FROM r LEFT JOIN smp USING (cluster) ORDER BY cluster""".stripMargin)),

    // DSIR importance resampling (hashed-bigram likelihood-ratio data
    // selection, Xie et al. 2023): target = the src0 slice; the 10^4-row
    // broadcast model (bucket space per the round-9 fidelity study in
    // BASELINE.md: 1024 buckets kept only 33% of the 10^4 selection,
    // 10^4 vs 10^5 agree at 91%) scores the raw corpus in one pass; rank cut
    // is the deterministic (auditable) variant of the Gumbel resample
    ("curation_dsir",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Curation.dsirSelect(docs, docs.filter(col("source") === "src0"),
          targetRows = 50)
      },
      Some("""WITH tokR AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS a
             |              FROM documents),
             |tokT AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS a
             |         FROM documents WHERE source = 'src0'),
             |bgR AS (SELECT id, CAST('0x' || substr(md5(a[i] || ' ' || a[i+1]), 1, 15) AS BIGINT)
             |               % 10000 AS b
             |        FROM (SELECT id, a, unnest(generate_series(1, len(a) - 1)) AS i FROM tokR)),
             |bgT AS (SELECT id, CAST('0x' || substr(md5(a[i] || ' ' || a[i+1]), 1, 15) AS BIGINT)
             |               % 10000 AS b
             |        FROM (SELECT id, a, unnest(generate_series(1, len(a) - 1)) AS i FROM tokT)),
             |cR AS (SELECT b, COUNT(*) AS c_r FROM bgR GROUP BY 1),
             |cT AS (SELECT b, COUNT(*) AS c_t FROM bgT GROUP BY 1),
             |nR AS (SELECT COUNT(*) AS n_r FROM bgR),
             |nT AS (SELECT COUNT(*) AS n_t FROM bgT),
             |model AS (SELECT cR.b,
             |            LN(((COALESCE(cT.c_t, 0) + 1.0) / (nT.n_t + 10000)) /
             |               ((cR.c_r + 1.0) / (nR.n_r + 10000))) AS llr
             |          FROM cR LEFT JOIN cT USING (b) CROSS JOIN nR CROSS JOIN nT),
             |sc AS (SELECT g.id, COUNT(*) AS n_bigrams,
             |         CAST(SUM(CAST(llr AS DECIMAL(28,12))) AS DOUBLE) AS w
             |       FROM bgR g JOIN model USING (b) GROUP BY 1)
             |SELECT id, n_bigrams, ROUND(w, 6) AS dsir_weight FROM sc
             |ORDER BY dsir_weight DESC, id LIMIT 50""".stripMargin)),

    // token-budget sequence packing (fixed-context batching pre-pass):
    // id-ordered docs per source stream, 256-token bins, integer-exact
    // window arithmetic
    ("curation_pack_sequences",
      (s, dir) =>
        Curation.packSequences(
          t(s, dir, "documents").filter(col("doc_id") < 200),
          "doc_id", "text", budgetTokens = 256L, byCol = "source")
          .orderBy(col("source"), col("doc_id")),
      Some("""WITH d AS (SELECT source, doc_id,
             |    CAST(len(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS n_tokens
             |  FROM documents WHERE doc_id < 200),
             |c AS (SELECT source, doc_id, n_tokens,
             |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             |  FROM d)
             |SELECT source, doc_id, n_tokens, cum_before // 256 AS bin,
             |       cum_before % 256 AS offset_tokens
             |FROM c ORDER BY source, doc_id""".stripMargin)),

    // ONE-stream packing over the whole documents table — the window
    // form's worst case (a single partition-by group serializes into one
    // task); the r14 two-pass packSequences spreads it across range
    // partitions while this oracle pins the exact same prefix sums
    // (ScaleProbe carries the 10x row)
    ("curation_pack_one_stream",
      (s, dir) =>
        Curation.packSequences(
          t(s, dir, "documents").withColumn("source", lit("all")),
          "doc_id", "text", budgetTokens = 1024L, byCol = "source")
          .orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT 'all' AS source, doc_id,
             |    CAST(len(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT source, doc_id, n_tokens,
             |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             |  FROM d)
             |SELECT source, doc_id, n_tokens, cum_before // 1024 AS bin,
             |       cum_before % 1024 AS offset_tokens
             |FROM c ORDER BY doc_id""".stripMargin)),

    // CCNET PERPLEXITY BUCKETS (Wenzek et al. 2020): per language, rank
    // docs by the ARTIFACT-FED LM quality score and cut head/middle/tail
    // terciles with integer-exact boundaries — the split CCNet publishes
    // its corpus in, and the precursor of perplexity-filtered training
    // mixes. Scoring reads the persisted postings artifacts (zero
    // tokenize); the oracle re-derives the LM, the ranking, and the
    // tercile arithmetic.
    ("curation_ccnet_buckets",
      (s, dir) => {
        val lm = SparseArtifacts.lm(s, dir)
        val scored = TextAnalysis.lmQualityFromModel(
          SparseArtifacts.bigram(s, dir).postings
            .select(col("id"), col("term").as("ngram"), col("tf")),
          lm.bgCounts, lm.uniCounts, lm.vocab)
          .select(col("id"), round(col("lm_logprob"), 6).as("lp"))
        val docs = t(s, dir, "documents")
          .select(col("doc_id").as("id"), col("lang"))
        Curation.perplexityBuckets(docs.join(scored, Seq("id")),
            "lang", "lp", "id")
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            round(min(col("lp")), 6).as("min_lp"),
            round(max(col("lp")), 6).as("max_lp"))
          .orderBy(col("lang"), col("bucket"))
      },
      Some("""WITH tok AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '\w+') AS toks
             |            FROM documents),
             |i2 AS (SELECT id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tok),
             |bg AS (SELECT id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS ngram FROM i2),
             |bgc AS (SELECT ngram, COUNT(*) AS c_bg FROM bg GROUP BY 1),
             |uni AS (SELECT unnest(regexp_extract_all(lower(text), '\w+')) AS term FROM documents),
             |unic AS (SELECT term, COUNT(*) AS c_uni FROM uni GROUP BY 1),
             |vv AS (SELECT COUNT(DISTINCT term) AS v FROM uni),
             |lp AS (SELECT id,
             |  ROUND(CAST(SUM(CAST(LN((c_bg + 1.0) / (c_uni + v)) AS DECIMAL(28,12))) AS DOUBLE)
             |        / COUNT(*), 6) AS lp
             |  FROM bg JOIN bgc USING (ngram) JOIN unic ON unic.term = bg.w1 CROSS JOIN vv
             |  GROUP BY id),
             |dl AS (SELECT d.doc_id AS id, d.lang, lp.lp
             |       FROM documents d JOIN lp ON lp.id = d.doc_id),
             |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY lp DESC, id) AS r,
             |         COUNT(*) OVER (PARTITION BY lang) AS n FROM dl),
             |bk AS (SELECT lang, lp, CASE WHEN r <= (n + 2) // 3 THEN 'head'
             |                             WHEN r <= (2 * n + 2) // 3 THEN 'middle'
             |                             ELSE 'tail' END AS bucket FROM rk)
             |SELECT lang, bucket, COUNT(*) AS n_docs,
             |       ROUND(MIN(lp), 6) AS min_lp, ROUND(MAX(lp), 6) AS max_lp
             |FROM bk GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin)),

    // EXACT-QUOTA stratified sampling: every lang stratum contributes
    // exactly ceil(n_lang * 20%) rows by hash rank — per-stratum
    // proportions are preserved by construction (hashSample's per-row coin
    // would give each stratum binomial variance; tail langs can vanish
    // from a small eval set). Quota is integer-exact, membership a pure
    // function of (salt, id) within the stratum.
    ("curation_stratified_sample",
      (s, dir) =>
        Curation.stratifiedSample(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang", fracBp = 2000, salt = "strat")
          .orderBy(col("lang"), col("doc_id")),
      Some("""WITH s AS (SELECT doc_id, lang,
             |    ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             |      % 10000 AS sk
             |  FROM documents),
             |n AS (SELECT lang, COUNT(*) AS cnt FROM s GROUP BY 1),
             |r AS (SELECT doc_id, lang,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sk, doc_id) AS rk
             |  FROM s)
             |SELECT r.doc_id, r.lang FROM r JOIN n USING (lang)
             |WHERE rk <= (cnt * 2000 + 9999) // 10000
             |ORDER BY lang, doc_id""".stripMargin)),

    // RETRIEVAL-QUALITY EVALUATION: per-query recall@10 / MRR / binary
    // nDCG of the pruned IVF serving path (nprobe=2 — deliberately partial
    // so the metrics measure something) against the exact top-10 ground
    // truth, both ranked on the rounded-score + id convention. The oracle
    // re-derives BOTH sides (the full kmeans -> cell -> probe chain and
    // the exact scan) and the metric arithmetic down to the decimal-exact
    // DCG sums — the whole evaluation harness is pinned, not just the
    // serving path.
    ("eval_ann_quality",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val ann = Eval.ranked(
          Similarity.ivfSearchBatchPruned(idx.cells, idx.centroids, queries,
            nprobe = 2, k = 10),
          "query_id", "vec_id", "sim")
        val truth = Eval.ranked(
          Similarity.knnBatch(emb, queries, k = 10),
          "query_id", "vec_id", "sim")
        Eval.annQuality(ann, truth, k = 10).orderBy(col("query_id"))
      },
      Some(s"""$ivfCellCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |scored AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster
             |  JOIN qs q ON q.query_id = p.query_id),
             |ann AS (SELECT query_id, vec_id, rn AS rank FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM scored) x
             |  WHERE rn <= 10),
             |exact AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e CROSS JOIN qs q),
             |truth AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM exact) x
             |  WHERE rn <= 10),
             |idcg AS (SELECT query_id, CAST(SUM(CAST(1.0 / log2(i + 1.0)
             |                     AS DECIMAL(28,12))) AS DOUBLE) AS idcg
             |         FROM (SELECT query_id, ROW_NUMBER() OVER (
             |                 PARTITION BY query_id ORDER BY vec_id) AS i FROM truth)
             |         GROUP BY 1),
             |hits AS (SELECT a.query_id, a.rank FROM ann a
             |         JOIN truth t ON a.query_id = t.query_id AND a.vec_id = t.vec_id),
             |perq AS (SELECT query_id, COUNT(*) AS n_hit, MIN(rank) AS first_hit,
             |           CAST(SUM(CAST(1.0 / log2(rank + 1.0) AS DECIMAL(28,12)))
             |                AS DOUBLE) AS dcg
             |         FROM hits GROUP BY 1)
             |SELECT i.query_id, COALESCE(p.n_hit, 0) AS n_hit,
             |       ROUND(COALESCE(p.n_hit, 0) / 10.0, 6) AS recall,
             |       ROUND(COALESCE(1.0 / p.first_hit, 0.0), 6) AS mrr,
             |       ROUND(COALESCE(p.dcg, 0.0) / i.idcg, 6) AS ndcg
             |FROM idcg i LEFT JOIN perq p USING (query_id)
             |ORDER BY query_id""".stripMargin)),

    // batch PCA two-stage serving: three queries coarse-rank against the
    // PERSISTED packed projections in one pass (per-query kCoarse bounded
    // through the TopKAggregator before any shuffle), one exact refine of
    // the union of shortlists — the batch economics every other serving
    // family already has, on the learned-rotation path.
    ("sim_pca_refine_batch",
      (s, dir) => {
        val pca = PcaArtifacts.fit(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.pcaCoarseRefineSearchBatch(emb,
            pca.components.select(col("pos"), col("pc")), queries,
            kCoarse = 30, k = 5, projections = Some(pca.projections))
          .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
      },
      Some(s"""$pcaPowerCtes,
             |vp AS (SELECT list(v ORDER BY i) AS varr FROM v4),
             |pr AS (SELECT e.vec_id,
             |         ROUND((SELECT SUM(y.a::DOUBLE * y.b)
             |                FROM (SELECT unnest(e.embedding) a, unnest(p.varr) b) y), 6) AS proj
             |       FROM embeddings e CROSS JOIN vp p),
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |qp AS (SELECT q.query_id,
             |         ROUND((SELECT SUM(y.a::DOUBLE * y.b)
             |                FROM (SELECT unnest(q.qv) a, unnest(p.varr) b) y), 6) AS qproj
             |       FROM qs q CROSS JOIN vp p),
             |coarse AS (SELECT query_id, vec_id FROM (
             |    SELECT qp.query_id, pr.vec_id,
             |      ROW_NUMBER() OVER (PARTITION BY qp.query_id
             |        ORDER BY ROUND(pr.proj * qp.qproj, 6) DESC, pr.vec_id) AS rn
             |    FROM pr CROSS JOIN qp) x WHERE rn <= 30),
             |sc AS (SELECT c.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM coarse c JOIN embeddings e ON e.vec_id = c.vec_id
             |  JOIN qs q ON q.query_id = c.query_id),
             |rk AS (SELECT query_id, vec_id, sim, ROW_NUMBER() OVER (
             |         PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM sc)
             |SELECT query_id, vec_id, sim FROM rk WHERE rn <= 5
             |ORDER BY query_id, sim DESC, vec_id""".stripMargin)),

    // measured recall of the MinHash-LSH banding vs exact Jaccard — the
    // dedup-side eval (the banding s-curve is a probabilistic promise;
    // this query pins what it actually delivered on this corpus at the
    // 0.5 threshold). LSH pairs are exact-verified, so they are a subset
    // of the exact pair set and the intersection is computed honestly
    // rather than assumed.
    ("eval_lsh_recall",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // both pair lists feed the hit join AND their own count aggregate:
        // stage each once (r18) — the exact jaccard pass in particular ran
        // twice without it
        // the two pair lists are independent: stage them CONCURRENTLY
        // (Mat.stageAllIfExpensive, r19) — the exact jaccard audit pass
        // overlaps the LSH banding instead of following it
        val Seq(lsh, exact) = Mat.stageAllIfExpensive(Seq(
          MinhashArtifacts.pairs(s, dir).select(col("i"), col("j")),
          Dedup.jaccardPairs(docs, "doc_id", "text").select(col("i"), col("j"))))
        val hit = lsh.join(exact, Seq("i", "j")).agg(count(lit(1)).as("n_hit"))
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
          .crossJoin(hit)
          .select(col("n_exact"), col("n_lsh"), col("n_hit"),
            when(col("n_exact") > 0,
              round(col("n_hit") / (col("n_exact") * lit(1.0)), 6))
              .as("lsh_recall"))
      },
      Some(s"""$minhashJacSql,
             |exinter AS (SELECT a.id AS i, b.id AS j, COUNT(*) AS cc
             |            FROM shh a JOIN shh b ON a.hvv = b.hvv AND a.id < b.id
             |            GROUP BY 1, 2),
             |exjac AS (SELECT i, j, cc * 1.0 / (sa.n + sb.n - cc) AS jaccard
             |          FROM exinter JOIN sz sa ON sa.id = i JOIN sz sb ON sb.id = j),
             |expairs AS (SELECT i, j FROM exjac WHERE jaccard >= 0.5),
             |lshpairs AS (SELECT i, j FROM jac WHERE jaccard >= 0.5),
             |hit AS (SELECT COUNT(*) AS n_hit FROM lshpairs l
             |        JOIN expairs e ON l.i = e.i AND l.j = e.j)
             |SELECT (SELECT COUNT(*) FROM expairs) AS n_exact,
             |       (SELECT COUNT(*) FROM lshpairs) AS n_lsh,
             |       h.n_hit,
             |       CASE WHEN (SELECT COUNT(*) FROM expairs) > 0 THEN
             |         ROUND(h.n_hit / ((SELECT COUNT(*) FROM expairs) * 1.0), 6)
             |       END AS lsh_recall
             |FROM hit h""".stripMargin)),

    // measured quality of the PCA two-stage path — every approximate
    // serving family here gets an eval query (IVF has eval_ann_quality /
    // eval_recall_curve); this one scores the learned-rotation coarse cut:
    // recall@10 of coarse(kCoarse=20) -> exact-refine vs the exact top-10.
    ("eval_pca_recall",
      (s, dir) => {
        val pca = PcaArtifacts.fit(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val approx = Eval.ranked(
          Similarity.pcaCoarseRefineSearchBatch(emb,
            pca.components.select(col("pos"), col("pc")), queries,
            kCoarse = 20, k = 10, projections = Some(pca.projections)),
          "query_id", "vec_id", "sim")
        val truth = Eval.ranked(Similarity.knnBatch(emb, queries, k = 10),
          "query_id", "vec_id", "sim")
        Eval.annQuality(approx, truth, k = 10)
          .select(col("query_id"), col("n_hit"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some(s"""$pcaPowerCtes,
             |vp AS (SELECT list(v ORDER BY i) AS varr FROM v4),
             |pr AS (SELECT e.vec_id,
             |         ROUND((SELECT SUM(y.a::DOUBLE * y.b)
             |                FROM (SELECT unnest(e.embedding) a, unnest(p.varr) b) y), 6) AS proj
             |       FROM embeddings e CROSS JOIN vp p),
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |qp AS (SELECT q.query_id,
             |         ROUND((SELECT SUM(y.a::DOUBLE * y.b)
             |                FROM (SELECT unnest(q.qv) a, unnest(p.varr) b) y), 6) AS qproj
             |       FROM qs q CROSS JOIN vp p),
             |coarse AS (SELECT query_id, vec_id FROM (
             |    SELECT qp.query_id, pr.vec_id,
             |      ROW_NUMBER() OVER (PARTITION BY qp.query_id
             |        ORDER BY ROUND(pr.proj * qp.qproj, 6) DESC, pr.vec_id) AS rn
             |    FROM pr CROSS JOIN qp) x WHERE rn <= 20),
             |sc AS (SELECT c.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM coarse c JOIN embeddings e ON e.vec_id = c.vec_id
             |  JOIN qs q ON q.query_id = c.query_id),
             |approx AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM sc) x
             |  WHERE rn <= 10),
             |exact AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e CROSS JOIN qs q),
             |truth AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM exact) x
             |  WHERE rn <= 10),
             |h AS (SELECT t.query_id, COUNT(a.vec_id) AS n_hit FROM truth t
             |      LEFT JOIN approx a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
             |      GROUP BY 1)
             |SELECT query_id, n_hit, ROUND(n_hit / 10.0, 6) AS recall
             |FROM h ORDER BY query_id""".stripMargin)),

    // measured recall of the IVF-SQ8 two-stage path (sim_ivf_int8_refine's
    // serving shape at a deliberately tight kCoarse) — closes the eval
    // matrix for the scalar-quantizer family: the int8 coarse cut has the
    // same kCoarse-miss mode eval_pca_recall measures for the learned
    // rotation, and at 100 TB its recall must be a measured number, not
    // the quantizer's reputation.
    ("eval_sq8_recall",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        // ONE batch search (spec-pinned parity with the per-query form)
        // instead of a 3-branch union — a third of the plan, broadcast
        // futures and probed-cell scans (r19)
        val approx = Similarity.ivfInt8RefineSearchBatch(
            idx.int8.get, idx.cells, idx.centroids, queries,
            nprobe = 2, kCoarse = 20, k = 10)
          .select(col("query_id"), col("vec_id"), col("score").as("sim"))
        val truth = Eval.ranked(Similarity.knnBatch(emb, queries, k = 10),
          "query_id", "vec_id", "sim")
        Eval.annQuality(Eval.ranked(approx, "query_id", "vec_id", "sim"),
            truth, k = 10)
          .select(col("query_id"), col("n_hit"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some(s"""$ivfCellCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |isc AS (SELECT p.query_id, e.vec_id,
             |    CAST((SELECT SUM(CAST(GREATEST(-127, LEAST(127, round(x.a::DOUBLE * 127))) AS BIGINT) *
             |                     CAST(GREATEST(-127, LEAST(127, round(x.b::DOUBLE * 127))) AS BIGINT))
             |          FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x) AS BIGINT) AS score_i
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster
             |  JOIN qs q ON q.query_id = p.query_id),
             |shortlist AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY score_i DESC, vec_id) AS rn FROM isc) x WHERE rn <= 20),
             |sc AS (SELECT sl.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e JOIN shortlist sl ON sl.vec_id = e.vec_id
             |  JOIN qs q ON q.query_id = sl.query_id),
             |approx AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM sc) x
             |  WHERE rn <= 10),
             |exact AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e CROSS JOIN qs q),
             |truth AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM exact) x
             |  WHERE rn <= 10),
             |hh AS (SELECT t.query_id, COUNT(a.vec_id) AS n_hit FROM truth t
             |      LEFT JOIN approx a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
             |      GROUP BY 1)
             |SELECT query_id, n_hit, ROUND(n_hit / 10.0, 6) AS recall
             |FROM hh ORDER BY query_id""".stripMargin)),

    // measured recall of the BINARY sign-Hamming coarse cut (sim_bq's
    // serving shape): the 1-bit family is the cheapest scan in the
    // ladder, so its recall number is the one that decides whether the
    // 32x IO cut is usable for a given corpus — measured here against
    // the exact top-10 instead of assumed from the SimHash angle bound,
    // completing the per-family eval matrix (IVF, LSH, PCA, SQ8, OPQ,
    // matryoshka, binary).
    ("eval_bq_recall",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        // the PERSISTED signature store (built+calibrated by
        // buildDenseIndex since r15) — zero encode jobs at query time,
        // like every other fitted serving artifact here
        val store = idx.binary.get
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        // ONE batch search (spec-pinned parity with the per-query form)
        // instead of a 3-branch union (r19)
        val approx = Similarity.ivfBinaryRefineSearchBatch(
            store, idx.cells, idx.centroids, queries,
            nprobe = 2, kCoarse = 20, k = 10)
          .select(col("query_id"), col("vec_id"), col("score").as("sim"))
        val truth = Eval.ranked(Similarity.knnBatch(emb, queries, k = 10),
          "query_id", "vec_id", "sim")
        Eval.annQuality(Eval.ranked(approx, "query_id", "vec_id", "sim"),
            truth, k = 10)
          .select(col("query_id"), col("n_hit"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some(s"""$ivfCellCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |hm AS (SELECT p.query_id, e.vec_id,
             |    (SELECT COUNT(*) FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) x
             |     WHERE (x.a > 0) != (x.b > 0)) AS ham
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster
             |  JOIN qs q ON q.query_id = p.query_id),
             |shortlist AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY ham ASC, vec_id) AS rn FROM hm) x WHERE rn <= 20),
             |sc AS (SELECT sl.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e JOIN shortlist sl ON sl.vec_id = e.vec_id
             |  JOIN qs q ON q.query_id = sl.query_id),
             |approx AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM sc) x
             |  WHERE rn <= 10),
             |exact AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e CROSS JOIN qs q),
             |truth AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM exact) x
             |  WHERE rn <= 10),
             |hh AS (SELECT t.query_id, COUNT(a.vec_id) AS n_hit FROM truth t
             |      LEFT JOIN approx a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
             |      GROUP BY 1)
             |SELECT query_id, n_hit, ROUND(n_hit / 10.0, 6) AS recall
             |FROM hh ORDER BY query_id""".stripMargin)),

    // measured recall of the matryoshka truncated-prefix coarse cut
    // (sim_matryoshka_refine's serving shape): the adaptive-retrieval
    // promise is that the leading 16 of 64 coordinates rank well — this
    // query turns that promise into a number for THIS corpus, completing
    // the per-family eval matrix (IVF, LSH, PCA, SQ8, matryoshka).
    ("eval_matryoshka_recall",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        // ONE batch search (spec-pinned parity with the per-query form)
        // instead of a 3-branch union (r19)
        val approx = Similarity.matryoshkaRefineSearchBatch(
            idx.cells, idx.centroids, queries,
            dPrime = 16, nprobe = 2, kCoarse = 20, k = 10)
          .select(col("query_id"), col("vec_id"), col("score").as("sim"))
        val truth = Eval.ranked(Similarity.knnBatch(emb, queries, k = 10),
          "query_id", "vec_id", "sim")
        Eval.annQuality(Eval.ranked(approx, "query_id", "vec_id", "sim"),
            truth, k = 10)
          .select(col("query_id"), col("n_hit"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some(s"""$ivfCellCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |tsc AS (SELECT p.query_id, e.vec_id,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding[1:16]) a, unnest(q.qv[1:16]) b) x), 6) AS cscore
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster
             |  JOIN qs q ON q.query_id = p.query_id),
             |shortlist AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, vec_id) AS rn FROM tsc) x WHERE rn <= 20),
             |sc AS (SELECT sl.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e JOIN shortlist sl ON sl.vec_id = e.vec_id
             |  JOIN qs q ON q.query_id = sl.query_id),
             |approx AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM sc) x
             |  WHERE rn <= 10),
             |exact AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e CROSS JOIN qs q),
             |truth AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM exact) x
             |  WHERE rn <= 10),
             |hh AS (SELECT t.query_id, COUNT(a.vec_id) AS n_hit FROM truth t
             |      LEFT JOIN approx a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
             |      GROUP BY 1)
             |SELECT query_id, n_hit, ROUND(n_hit / 10.0, 6) AS recall
             |FROM hh ORDER BY query_id""".stripMargin)),

    // measured recall of the IVF-PQ ADC path — completes the PQ family's
    // eval story: eval_rank_corr measures its ORDER agreement, this pins
    // what fraction of the exact top-10 the code-only ADC ranking
    // recovers at the tight probe (the quantization + probe miss modes
    // recall sees and tau cannot).
    ("eval_pq_recall",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val ann = Eval.ranked(
          Similarity.ivfPqSearchBatchPruned(
            idx.codes, idx.codebooks, idx.centroids, queries, nprobe = 2, k = 10),
          "query_id", "vec_id", "score")
        val truth = Eval.ranked(Similarity.knnBatch(emb, queries, k = 10),
          "query_id", "vec_id", "sim")
        Eval.annQuality(ann, truth, k = 10)
          .select(col("query_id"), col("n_hit"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some(s"""$ivfCellCtes,
             |$pqRefinedCbCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |pc AS (SELECT DISTINCT cluster FROM probe),
             |dist AS (SELECT s.id, s.m, cbr.c,
             |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
             |     FROM (SELECT unnest(s.sv) a, unnest(cbr.cbv) b) x) AS d
             |  FROM sub s JOIN a3 ON a3.vec_id = s.id
             |  JOIN pc ON a3.cluster = pc.cluster
             |  JOIN cbr USING (m)),
             |code AS (SELECT id, m, c AS code FROM (
             |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
             |    FROM dist) WHERE rn = 1),
             |qtab AS (SELECT q.query_id, cbr.m, cbr.c,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(cbr.cbv) a, unnest(q.qv[cbr.m*8+1 : cbr.m*8+8]) b) x) AS p
             |  FROM cbr CROSS JOIN qs q),
             |sc AS (SELECT p.query_id, code.id,
             |         CAST(SUM(CAST(qt.p AS DECIMAL(18,12))) AS DOUBLE) AS score
             |       FROM code JOIN a3 ON a3.vec_id = code.id
             |       JOIN probe p ON p.cluster = a3.cluster
             |       JOIN qtab qt ON qt.query_id = p.query_id
             |         AND qt.m = code.m AND qt.c = code.code
             |       GROUP BY 1, 2),
             |approx AS (SELECT query_id, id AS vec_id FROM (
             |    SELECT query_id, id, ROUND(score, 6) AS score, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY ROUND(score, 6) DESC, id) AS rn FROM sc) x
             |  WHERE rn <= 10),
             |exact AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e CROSS JOIN qs q),
             |truth AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM exact) x
             |  WHERE rn <= 10),
             |hh AS (SELECT t.query_id, COUNT(a.vec_id) AS n_hit FROM truth t
             |      LEFT JOIN approx a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
             |      GROUP BY 1)
             |SELECT query_id, n_hit, ROUND(n_hit / 10.0, 6) AS recall
             |FROM hh ORDER BY query_id""".stripMargin)),

    // OPQ-STYLE rotated-PQ ADC serving from the persisted rotation +
    // rotated codes (OpqArtifacts: top-16 principal basis, eigenvalue
    // allocation across the 4x4 sub-quantizers, Lloyd-refined codebooks).
    // FULLY ORACLE-BACKED as of r17 (VERDICT r16 #2 — the last rows-only
    // exception): the parametric generators now carry the complete
    // geometry — 15 rank-1 deflations at SIX power rounds each, the 4x4
    // eigenvalue-allocated slot order in `rotv`, TWO Lloyd refinements —
    // in shortest-form decimal semantics (see [[sfDec]]; the binary-value
    // rounding DuckDB does natively drifts 6.8e-7 by component 15).
    ("sim_opq_adc",
      (s, dir) => {
        val opq = OpqArtifacts.build(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.pqAdcScoreRotated(opq.codes, opq.codebooks, opq.rotation,
          qv, k = 10, OpqArtifacts.numSub, OpqArtifacts.subDim)
      },
      Some(s"""${opqDeflateCtes(16, iters = 6, numSub = 4, subDim = 4)},
             |${opqCodesCtes(4, subDim = 4, lloydIters = 2)}
             |$opqScoreSelect""".stripMargin)),

    // REDUCED-m OPQ twin (VERDICT r10 #1): the SAME
    // rotateVectors/pqRefineCodebooks/pqEncode/pqAdcScoreRotated code
    // path as sim_opq_adc, at the smallest geometry — 2 principal
    // components (one rank-1 deflation), 2x1 sub-quantizers, one
    // Lloyd refinement. Kept as the cheap canary of the parametric
    // generator family now that the full form is oracle-backed.
    ("sim_opq_adc_m2",
      (s, dir) => {
        val opq = OpqM2Artifacts.build(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.pqAdcScoreRotated(opq.codes, opq.codebooks, opq.rotation,
          qv, k = 10, OpqM2Artifacts.numSub, OpqM2Artifacts.subDim)
      },
      Some(s"""${opqDeflateCtes(2)},
             |$opqM2CodesCtes
             |$opqScoreSelect""".stripMargin)),

    // MID-geometry OPQ twin (VERDICT r14 #8: shrink the sim_opq_adc
    // rows-only exception's unpinned surface): m=4 components via THREE
    // rank-1 deflations — the recursion of deflate-and-refit that the
    // m=2 pin exercises only once — generated by the parametric
    // opqDeflateCtes/opqCodesCtes instead of hand-unrolled CTEs. Same
    // Scala path as the full 16-component family.
    ("sim_opq_adc_m4",
      (s, dir) => {
        val opq = OpqM4Artifacts.build(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.pqAdcScoreRotated(opq.codes, opq.codebooks, opq.rotation,
          qv, k = 10, OpqM4Artifacts.numSub, OpqM4Artifacts.subDim)
      },
      Some(s"""${opqDeflateCtes(4)},
             |${opqCodesCtes(4)}
             |$opqScoreSelect""".stripMargin)),

    // the m=8 pin (VERDICT r15 #6): SEVEN rank-1 deflations, 8x1
    // sub-quantizers — half the full 16-component sim_opq_adc geometry,
    // hash-pinned end to end, so the rows-only exception shrinks to just
    // the 16-component rotation itself
    ("sim_opq_adc_m8",
      (s, dir) => {
        val opq = OpqM4Artifacts.build(s, dir, m = 8, variant = "opq-m8")
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.pqAdcScoreRotated(opq.codes, opq.codebooks, opq.rotation,
          qv, k = 10, 8, OpqM4Artifacts.subDim)
      },
      Some(s"""${opqDeflateCtes(8)},
             |${opqCodesCtes(8)}
             |$opqScoreSelect""".stripMargin)),

    // the FULL-DEPTH pin (VERDICT r16 #2): FIFTEEN rank-1 deflations,
    // 16x1 sub-quantizers — the complete 16-component deflate-and-refit
    // chain of sim_opq_adc, one more doubling past the m=8 pin, generated
    // by the same parametric CTEs. With this, every deflation the full
    // geometry executes is hash-checked; sim_opq_adc's own 4x4 allocated
    // form gets its oracle below.
    ("sim_opq_adc_m16",
      (s, dir) => {
        val opq = OpqM4Artifacts.build(s, dir, m = 16, variant = "opq-m16")
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.pqAdcScoreRotated(opq.codes, opq.codebooks, opq.rotation,
          qv, k = 10, 16, OpqM4Artifacts.subDim)
      },
      Some(s"""${opqDeflateCtes(16)},
             |${opqCodesCtes(16)}
             |$opqScoreSelect""".stripMargin)),

    // OPQ × IVF end-to-end: the ROTATION-AWARE pruned serving path
    // (this round's basis-discipline fix) oracle-checked, not just
    // spec-pinned — the coarse probe ranks RAW centroids against the
    // RAW query (IVF geometry never rotates), the scan restricts to the
    // probed cells' members, and ADC runs in the ROTATED basis via the
    // rotation parameter. Codes carry the cell id exactly as a
    // buildDenseIndex(opqRotateIters) store would (here the m2 artifact
    // joins the persisted assignment).
    ("sim_opq_ivf_pruned",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val opq = OpqM2Artifacts.build(s, dir)
        val emb = t(s, dir, "embeddings")
        val codes = opq.codes.join(
          idx.cells.select(col("vec_id"), col("cluster")), Seq("vec_id"))
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfPqSearchPruned(codes, opq.codebooks, idx.centroids, qv,
          nprobe = 2, k = 10, OpqM2Artifacts.numSub, OpqM2Artifacts.subDim,
          rotation = Some(opq.rotation))
      },
      Some(s"""$ivfCellCtes,
             |${opqDeflateCtes(2).stripPrefix("WITH ")},
             |$opqM2CodesCtes,
             |qc AS (SELECT c.cluster,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(c.cv) a, unnest(q.embedding) b) x), 6) AS sim
             |  FROM c2 c CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q),
             |prb AS (SELECT cluster FROM (
             |    SELECT cluster, ROW_NUMBER() OVER (ORDER BY sim DESC, cluster) AS rn
             |    FROM qc) WHERE rn <= 2)
             |SELECT e.id AS vec_id,
             |       ${sfRound("CAST(SUM(CAST(CAST(qt.p AS VARCHAR) AS DECIMAL(18,12))) AS DOUBLE)", 6)} AS score
             |FROM encb e
             |JOIN a3 ON a3.vec_id = e.id
             |JOIN prb ON prb.cluster = a3.cluster
             |JOIN qtabb qt ON qt.m = e.m AND qt.c = e.code
             |GROUP BY 1 ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)),

    // REAL-DIMENSIONALITY serving oracle (VERDICT r10 #6): until now
    // d=768 evidence was probe-only (DimProbe timings, BASELINE.md
    // r6-r10) while every hash-checked query ran at the synthetic d=64.
    // This runs the REAL
    // pruned-IVF serving path (hash-sampled centroid init, assignCells
    // round-6 argmax with ties to the lower cell, driver-side round-6
    // probe, round-4 exact scoring in the probed cells) at d=768 —
    // vectors expanded deterministically from the d=64 table with the
    // SAME arithmetic in both engines (position gather (j*7) mod 64,
    // per-position scale (1 + j mod 5)/3, float cast), so the oracle
    // hash-pins the serving numerics at production dimensionality.
    ("sim_ivf_d768",
      (s, dir) => {
        // serve from the persisted d=768 store (load-don't-refit, r19):
        // [[D768Artifacts.build]] fits the SAME hash-sampled 4-cell init
        // and cell assignment this query previously re-derived inline on
        // every invocation — a full-corpus expand768 + assign per run.
        // The oracle still unrolls the training, pinning equivalence.
        val a = D768Artifacts.build(s, dir)
        val qv = expand768(t(s, dir, "embeddings"))
          .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfSearchPruned(a.cells, a.centroids, qv, nprobe = 2, k = 10)
      },
      Some("""WITH e768 AS MATERIALIZED (SELECT vec_id,
             |    list_transform(generate_series(0, 767), j ->
             |      CAST(embedding[(j*7) % 64 + 1] * ((1 + j % 5) / 3.0) AS REAL)) AS emb
             |  FROM embeddings),
             |ch AS (SELECT vec_id,
             |    ('0x' || substr(md5('c768:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
             |  FROM embeddings),
             |csel AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) - 1 AS cluster,
             |               vec_id
             |        FROM ch ORDER BY hh, vec_id LIMIT 4),
             |cents AS MATERIALIZED (SELECT c.cluster, e.emb AS cv
             |        FROM csel c JOIN e768 e USING (vec_id)),
             |asg AS (SELECT e.vec_id, c.cluster,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.emb) a, unnest(c.cv) b) x), 6) AS sim
             |  FROM e768 e CROSS JOIN cents c),
             |cells AS (SELECT vec_id, cluster FROM (
             |    SELECT vec_id, cluster, ROW_NUMBER() OVER (
             |      PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn FROM asg)
             |  WHERE rn = 1),
             |q AS (SELECT emb FROM e768 WHERE vec_id = 0),
             |qc AS (SELECT c.cluster,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(q.emb) a, unnest(c.cv) b) x), 6) AS sim
             |  FROM cents c CROSS JOIN q),
             |probe AS (SELECT cluster FROM (
             |    SELECT cluster, ROW_NUMBER() OVER (ORDER BY sim DESC, cluster) AS rn
             |    FROM qc) WHERE rn <= 2),
             |scored AS (SELECT e.vec_id,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.emb) a, unnest(q.emb) b) x), 4) AS score
             |  FROM e768 e JOIN cells USING (vec_id) JOIN probe USING (cluster)
             |  CROSS JOIN q)
             |SELECT vec_id, score FROM scored
             |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)),

    // QUANTIZED serving at PRODUCTION dimensionality (VERDICT r11 #1):
    // the persisted-codes IVF-PQ + exact-refine path (FAISS IndexIVFPQ +
    // RefineFlat at the d=768 of create_bin.ipynb's flat CLIP indexes —
    // IVF-PQ is the scale-up this framework adds at that dimensionality)
    // hash-checked end-to-end at d=768 — coarse probe on the
    // 4-cell hash-sampled centroids, ADC over the cell-partitioned
    // 8x96-geometry codes (16 codes/subspace, sampled init + one Lloyd
    // refinement), kCoarse=50 shortlist, exact re-score of only the
    // shortlist rows. Every prior quantized oracle ran at the synthetic
    // d=64; this pins the numerics a 100 TB deployment would actually
    // serve from. Vectors expand deterministically via expand768 (same
    // arithmetic in both engines).
    ("sim_ivfpq_d768",
      (s, dir) => {
        val a = D768Artifacts.build(s, dir)
        val qv = expand768(t(s, dir, "embeddings"))
          .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.ivfPqRefineSearch(a.cells, a.codes, a.codebooks,
          a.centroids, qv, nprobe = 2, kCoarse = 50, k = 20,
          numSub = D768Artifacts.numSub, subDim = D768Artifacts.subDim)
      },
      Some(s"""$d768IvfPqCtes,
             |q AS (SELECT emb AS qv FROM e768 WHERE vec_id = 0),
             |qc AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM cents c CROSS JOIN q),
             |probe AS (SELECT cluster FROM qc ORDER BY cscore DESC, cluster LIMIT 2),
             |dist AS (SELECT s.id, s.m, cbr.c,
             |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
             |     FROM (SELECT unnest(s.sv) a, unnest(cbr.cbv) b) x) AS d
             |  FROM sub s JOIN cells ON cells.vec_id = s.id
             |  JOIN probe p ON cells.cluster = p.cluster
             |  JOIN cbr USING (m)),
             |code AS (SELECT id, m, c AS code FROM (
             |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
             |    FROM dist) WHERE rn = 1),
             |qtab AS (SELECT cbr.m, cbr.c,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(cbr.cbv) a, unnest(q.qv[cbr.m*96+1 : cbr.m*96+96]) b) x) AS p
             |  FROM cbr CROSS JOIN q),
             |sc AS (SELECT id, CAST(SUM(CAST(p AS DECIMAL(18,12))) AS DOUBLE) AS score
             |       FROM code JOIN qtab ON code.m = qtab.m AND code.code = qtab.c
             |       GROUP BY id),
             |shortlist AS (SELECT id FROM (SELECT id, ROUND(score, 6) AS score FROM sc) x
             |              ORDER BY score DESC, id LIMIT 50)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.emb) a, unnest(q.qv) b) y), 4) AS score
             |FROM e768 e JOIN shortlist sl ON sl.id = e.vec_id CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // batch twin of sim_ivfpq_d768 — the production batch-ANN request
    // shape at d=768: THREE queries probe per-query on the 4-row centroid
    // artifact (driver-side), ONE scan of the probed cells' CODE
    // partitions (M-byte rows, PartitionFilters-pruned to the cell
    // union), each code row ADC-scored only against the queries probing
    // its cell, bounded per-query top-k.
    ("sim_ivfpq_d768_batch",
      (s, dir) => {
        val a = D768Artifacts.build(s, dir)
        val queries = expand768(t(s, dir, "embeddings"))
          .filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.ivfPqSearchBatchPruned(
            a.codes, a.codebooks, a.centroids, queries, nprobe = 2, k = 10,
            numSub = D768Artifacts.numSub, subDim = D768Artifacts.subDim)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some(s"""$d768IvfPqCtes,
             |qs AS (SELECT vec_id AS query_id, emb AS qv FROM e768
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM cents c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |pc AS (SELECT DISTINCT cluster FROM probe),
             |dist AS (SELECT s.id, s.m, cbr.c,
             |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
             |     FROM (SELECT unnest(s.sv) a, unnest(cbr.cbv) b) x) AS d
             |  FROM sub s JOIN cells ON cells.vec_id = s.id
             |  JOIN pc ON cells.cluster = pc.cluster
             |  JOIN cbr USING (m)),
             |code AS (SELECT id, m, c AS code FROM (
             |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
             |    FROM dist) WHERE rn = 1),
             |qtab AS (SELECT q.query_id, cbr.m, cbr.c,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(cbr.cbv) a, unnest(q.qv[cbr.m*96+1 : cbr.m*96+96]) b) x) AS p
             |  FROM cbr CROSS JOIN qs q),
             |sc AS (SELECT p.query_id, code.id,
             |         CAST(SUM(CAST(qt.p AS DECIMAL(18,12))) AS DOUBLE) AS score
             |       FROM code JOIN cells ON cells.vec_id = code.id
             |       JOIN probe p ON p.cluster = cells.cluster
             |       JOIN qtab qt ON qt.query_id = p.query_id
             |         AND qt.m = code.m AND qt.c = code.code
             |       GROUP BY 1, 2),
             |rk AS (SELECT query_id, id, ROUND(score, 6) AS score, ROW_NUMBER() OVER (
             |         PARTITION BY query_id ORDER BY ROUND(score, 6) DESC, id) AS rn FROM sc)
             |SELECT query_id, id AS vec_id, score FROM rk WHERE rn <= 10
             |ORDER BY query_id, score DESC, vec_id""".stripMargin)),

    // batch TWO-STAGE serving at d=768 (round 12): the FAISS
    // IndexRefineFlat composition for a query BATCH as two pruned passes
    // — one scan of the probed cells' code partitions shortlists kCoarse
    // per query (batch ADC), one scan of the SAME cells' original
    // vectors exactly re-scores only the broadcast (query, id) shortlist
    // pairs. The oracle unrolls both stages per query.
    ("sim_ivfpq_d768_batch_refine",
      (s, dir) => {
        val a = D768Artifacts.build(s, dir)
        val queries = expand768(t(s, dir, "embeddings"))
          .filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.ivfPqRefineSearchBatch(
            a.cells, a.codes, a.codebooks, a.centroids, queries,
            nprobe = 2, kCoarse = 50, k = 10,
            numSub = D768Artifacts.numSub, subDim = D768Artifacts.subDim)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some(s"""$d768IvfPqCtes,
             |qs AS (SELECT vec_id AS query_id, emb AS qv FROM e768
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM cents c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |pc AS (SELECT DISTINCT cluster FROM probe),
             |dist AS (SELECT s.id, s.m, cbr.c,
             |    (SELECT SUM((x.a::DOUBLE - x.b::DOUBLE) * (x.a::DOUBLE - x.b::DOUBLE))
             |     FROM (SELECT unnest(s.sv) a, unnest(cbr.cbv) b) x) AS d
             |  FROM sub s JOIN cells ON cells.vec_id = s.id
             |  JOIN pc ON cells.cluster = pc.cluster
             |  JOIN cbr USING (m)),
             |code AS (SELECT id, m, c AS code FROM (
             |    SELECT id, m, c, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, c) AS rn
             |    FROM dist) WHERE rn = 1),
             |qtab AS (SELECT q.query_id, cbr.m, cbr.c,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(cbr.cbv) a, unnest(q.qv[cbr.m*96+1 : cbr.m*96+96]) b) x) AS p
             |  FROM cbr CROSS JOIN qs q),
             |sc AS (SELECT p.query_id, code.id,
             |         CAST(SUM(CAST(qt.p AS DECIMAL(18,12))) AS DOUBLE) AS score
             |       FROM code JOIN cells ON cells.vec_id = code.id
             |       JOIN probe p ON p.cluster = cells.cluster
             |       JOIN qtab qt ON qt.query_id = p.query_id
             |         AND qt.m = code.m AND qt.c = code.code
             |       GROUP BY 1, 2),
             |sl AS (SELECT query_id, id FROM (
             |         SELECT query_id, id, ROW_NUMBER() OVER (
             |           PARTITION BY query_id ORDER BY ROUND(score, 6) DESC, id) AS rn
             |         FROM sc) x WHERE rn <= 50),
             |ex AS (SELECT sl.query_id, e.vec_id,
             |         ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.emb) a, unnest(q.qv) b) y), 4) AS score
             |       FROM sl JOIN e768 e ON e.vec_id = sl.id
             |       JOIN qs q ON q.query_id = sl.query_id),
             |rk2 AS (SELECT query_id, vec_id, score, ROW_NUMBER() OVER (
             |          PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM ex)
             |SELECT query_id, vec_id, score FROM rk2 WHERE rn <= 10
             |ORDER BY query_id, score DESC, vec_id""".stripMargin)),

    // SQ8 two-stage serving at PRODUCTION dimensionality (VERDICT r12
    // next-round #4): the FAISS IndexIVFScalarQuantizer + RefineFlat path
    // hash-checked at d=768 from the persisted byte-per-dim store — the
    // int8/matryoshka serving families were the last still pinned only at
    // the synthetic d=64. The query is the doubled vec_id-0 vector
    // (doubling a float is exact — exponent bump, no rounding): its
    // coordinates reach ~1.75, so the query-side SATURATION CLAMP (the
    // ADVICE r12 symmetry fix mirroring [[Similarity.int8EncodeCells]])
    // genuinely fires and is oracle-pinned here, not just mirrored.
    ("sim_sq8_d768",
      (s, dir) => {
        val a = D768Artifacts.build(s, dir)
        val qv = expand768(t(s, dir, "embeddings"))
          .filter(col("vec_id") === 0)
          .select(transform(col("embedding"),
            x => (x.cast("double") * lit(2.0d)).cast("float")).as("qv"))
        Similarity.ivfInt8RefineSearch(a.int8, a.cells, a.centroids, qv,
          nprobe = 2, kCoarse = 50, k = 20)
      },
      Some(s"""$d768CellCtes,
             |q AS (SELECT list_transform(emb, x -> CAST(x::DOUBLE * 2 AS REAL)) AS qv
             |      FROM e768 WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM cents c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |isc AS (SELECT e.vec_id,
             |    CAST((SELECT SUM(CAST(GREATEST(-127, LEAST(127, round(x.a::DOUBLE * 127))) AS BIGINT) *
             |                     CAST(GREATEST(-127, LEAST(127, round(x.b::DOUBLE * 127))) AS BIGINT))
             |          FROM (SELECT unnest(e.emb) a, unnest(q.qv) b) x) AS BIGINT) AS score_i
             |  FROM e768 e JOIN cells USING (vec_id)
             |  JOIN probe p ON p.cluster = cells.cluster CROSS JOIN q),
             |shortlist AS (SELECT vec_id FROM isc ORDER BY score_i DESC, vec_id LIMIT 50)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.emb) a, unnest(q.qv) b) y), 4) AS score
             |FROM e768 e JOIN shortlist sl ON sl.vec_id = e.vec_id CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // BINARY two-stage serving at PRODUCTION dimensionality (r14, the
    // sim_bq twin at d=768 where the signature is genuinely MULTI-WORD —
    // 12 packed BIGINTs per row, 96 bytes vs 3072 for the float scan):
    // coarse Hamming rank from the PERSISTED cell-partitioned signature
    // store, exact refine of the 50-row shortlist. The query vector is
    // scaled 2x like the SQ8 twin — sign(2x) = sign(x), so the binary
    // coarse stage is invariant where SQ8's clamp leg fires: the two
    // families' oracles pin opposite behaviors on the same payload.
    ("sim_bq_d768",
      (s, dir) => {
        val a = D768Artifacts.build(s, dir)
        val qv = expand768(t(s, dir, "embeddings"))
          .filter(col("vec_id") === 0)
          .select(transform(col("embedding"),
            x => (x.cast("double") * lit(2.0d)).cast("float")).as("qv"))
        Similarity.ivfBinaryRefineSearch(a.bin, a.cells, a.centroids, qv,
          nprobe = 2, kCoarse = 50, k = 20)
      },
      Some(s"""$d768CellCtes,
             |q AS (SELECT list_transform(emb, x -> CAST(x::DOUBLE * 2 AS REAL)) AS qv
             |      FROM e768 WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM cents c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |hm AS (SELECT e.vec_id,
             |    (SELECT COUNT(*) FROM (SELECT unnest(e.emb) a, unnest(q.qv) b) x
             |     WHERE (x.a > 0) != (x.b > 0)) AS ham
             |  FROM e768 e JOIN cells USING (vec_id)
             |  JOIN probe p ON p.cluster = cells.cluster CROSS JOIN q),
             |shortlist AS (SELECT vec_id FROM hm ORDER BY ham ASC, vec_id LIMIT 50)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.emb) a, unnest(q.qv) b) y), 4) AS score
             |FROM e768 e JOIN shortlist sl ON sl.vec_id = e.vec_id CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // MATRYOSHKA two-stage serving at PRODUCTION dimensionality (VERDICT
    // r12 next-round #4, same closure as sim_sq8_d768): coarse rank on
    // the leading 192 of 768 coordinates (the quarter-prefix adaptive-
    // retrieval cut of Kusupati et al. 2022) over the probed cells, exact
    // full-dim re-score of only the 50-row shortlist.
    ("sim_matryoshka_d768",
      (s, dir) => {
        val a = D768Artifacts.build(s, dir)
        val qv = expand768(t(s, dir, "embeddings"))
          .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.matryoshkaRefineSearch(a.cells, a.centroids, qv,
          dPrime = 192, nprobe = 2, kCoarse = 50, k = 20)
      },
      Some(s"""$d768CellCtes,
             |q AS (SELECT emb AS qv FROM e768 WHERE vec_id = 0),
             |cs AS (SELECT c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM cents c CROSS JOIN q),
             |probe AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 2),
             |tsc AS (SELECT e.vec_id,
             |    ROUND((SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |           FROM (SELECT unnest(e.emb[1:192]) a, unnest(q.qv[1:192]) b) x), 6) AS cscore
             |  FROM e768 e JOIN cells USING (vec_id)
             |  JOIN probe p ON p.cluster = cells.cluster CROSS JOIN q),
             |shortlist AS (SELECT vec_id FROM tsc ORDER BY cscore DESC, vec_id LIMIT 50)
             |SELECT e.vec_id, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.emb) a, unnest(q.qv) b) y), 4) AS score
             |FROM e768 e JOIN shortlist sl ON sl.vec_id = e.vec_id CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)),

    // MEASURED OPQ ADC recall — the recall-eval closer for the rotated-PQ
    // family (every other approximate family already carries one:
    // eval_pq/sq8/matryoshka/pca/lsh_recall). Flat rotated ADC over the
    // m2 artifacts vs exact top-10, per-query recall through annQuality.
    ("eval_opq_recall",
      (s, dir) => {
        val opq = OpqM2Artifacts.build(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val ann = Eval.ranked(
          Similarity.pqAdcScoreRotated(opq.codes, opq.codebooks, opq.rotation,
            queries, k = 10, OpqM2Artifacts.numSub, OpqM2Artifacts.subDim),
          "query_id", "vec_id", "score")
        val truth = Eval.ranked(Similarity.knnBatch(emb, queries, k = 10),
          "query_id", "vec_id", "sim")
        Eval.annQuality(ann, truth, k = 10)
          .select(col("query_id"), col("n_hit"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some(s"""${opqDeflateCtes(2)},
             |$opqM2CodesCtes,
             |qsr AS (SELECT vec_id AS query_id, emb2 FROM rotv
             |        WHERE vec_id IN (0, 1, 2)),
             |qtabq AS (SELECT q.query_id, cb.m, cb.c,
             |    (SELECT SUM(x.a::DOUBLE * x.b::DOUBLE)
             |     FROM (SELECT unnest(cb.cbv) a, unnest(q.emb2[cb.m+1 : cb.m+1]) b) x) AS p
             |  FROM cb1b cb CROSS JOIN qsr q),
             |scq AS (SELECT qt.query_id, e.id,
             |         CAST(SUM(CAST(CAST(qt.p AS VARCHAR) AS DECIMAL(18,12))) AS DOUBLE) AS score
             |       FROM encb e JOIN qtabq qt ON qt.m = e.m AND qt.c = e.code
             |       GROUP BY 1, 2),
             |approx AS (SELECT query_id, id AS vec_id FROM (
             |    SELECT query_id, id, ${sfRound("score", 6)} AS score, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY ${sfRound("score", 6)} DESC, id) AS rn FROM scq) x
             |  WHERE rn <= 10),
             |qse AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |        WHERE vec_id IN (0, 1, 2)),
             |exact AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e CROSS JOIN qse q),
             |truth AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM exact) x
             |  WHERE rn <= 10),
             |hh AS (SELECT t.query_id, COUNT(a.vec_id) AS n_hit FROM truth t
             |      LEFT JOIN approx a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
             |      GROUP BY 1)
             |SELECT query_id, n_hit, ROUND(n_hit / 10.0, 6) AS recall
             |FROM hh ORDER BY query_id""".stripMargin)),

    // KENDALL-TAU rank agreement between the pruned-ANN and exact
    // rankings — the ORDER metric recall cannot see (two lists can share
    // all items yet order them oppositely; re-ranker evaluations need
    // exactly this). Pairs are classified over the intersection of the
    // two top-10 lists; every stage is k-bounded.
    ("eval_rank_corr",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val ann = Eval.ranked(
          Similarity.ivfSearchBatchPruned(idx.cells, idx.centroids, queries,
            nprobe = 2, k = 10),
          "query_id", "vec_id", "sim")
        val exact = Eval.ranked(Similarity.knnBatch(emb, queries, k = 10),
          "query_id", "vec_id", "sim")
        Eval.rankCorrelation(ann, exact).orderBy(col("query_id"))
      },
      Some(s"""$ivfCellCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |scored AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster
             |  JOIN qs q ON q.query_id = p.query_id),
             |ann AS (SELECT query_id, vec_id, rn AS ra FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM scored) x
             |  WHERE rn <= 10),
             |exact AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e CROSS JOIN qs q),
             |ext AS (SELECT query_id, vec_id, rn AS rb FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM exact) x
             |  WHERE rn <= 10),
             |bothr AS (SELECT a.query_id, a.vec_id, a.ra, e.rb
             |          FROM ann a JOIN ext e USING (query_id, vec_id)),
             |mm AS (SELECT query_id, COUNT(*) AS m FROM bothr GROUP BY 1),
             |prs AS (SELECT x.query_id,
             |          CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0 THEN 1 ELSE 0 END AS conc
             |        FROM bothr x JOIN bothr y
             |          ON x.query_id = y.query_id AND x.vec_id < y.vec_id),
             |cd AS (SELECT query_id, CAST(SUM(conc) AS BIGINT) AS c,
             |         CAST(COUNT(*) - SUM(conc) AS BIGINT) AS d FROM prs GROUP BY 1),
             |uni AS (SELECT DISTINCT query_id FROM
             |          (SELECT query_id FROM ann UNION SELECT query_id FROM ext))
             |SELECT u.query_id, COALESCE(m.m, 0) AS m,
             |  CASE WHEN COALESCE(m.m, 0) >= 2 THEN
             |    ROUND((cd.c - cd.d) / (m.m * (m.m - 1) / 2.0), 6) END AS kendall_tau
             |FROM uni u LEFT JOIN mm m USING (query_id) LEFT JOIN cd USING (query_id)
             |ORDER BY u.query_id""".stripMargin)),

    // PCA TOP COMPONENT by power iteration over the one-corpus-pass Gram
    // matrix: G entries are decimal-exact round-8 sums; the 4 unrolled
    // iteration rounds (matvec -> norm -> normalize, every intermediate
    // rounded to 8 before reuse) and the final Rayleigh quotient are
    // mirrored step-for-step in the oracle like the kmeans Lloyd CTEs.
    ("sim_pca_power",
      (s, dir) =>
        PcaArtifacts.fit(s, dir).components.orderBy(col("pos")),
      Some(s"""$pcaPowerCtes
             |SELECT CAST(i - 1 AS BIGINT) AS pos, v AS pc, eigval
             |FROM v4 CROSS JOIN ray ORDER BY pos""".stripMargin)),

    // the PROJECTION apply step (dimensionality reduction before indexing /
    // the whitening front half): every corpus row's coordinate along the
    // FITTED principal direction, one map-only pass with the packed
    // component broadcast as literals — fit once, project many, the
    // load-don't-refit convention. The oracle refits with the shared
    // unrolled CTE chain and projects via the same unnest-pair dot.
    ("sim_pca_project",
      (s, dir) =>
        // serving reads the PERSISTED packed projections — zero fit or
        // projection jobs at query time (load-don't-refit)
        PcaArtifacts.fit(s, dir).projections
          .select(col("vec_id"), posexplode(col("parr")).as(Seq("comp", "proj")))
          .orderBy(col("vec_id")),
      Some(s"""$pcaPowerCtes,
             |vp AS (SELECT list(v ORDER BY i) AS varr FROM v4)
             |SELECT e.vec_id, 0 AS comp,
             |  ROUND((SELECT SUM(y.a::DOUBLE * y.b)
             |         FROM (SELECT unnest(e.embedding) a, unnest(p.varr) b) y), 6) AS proj
             |FROM embeddings e CROSS JOIN vp p
             |ORDER BY e.vec_id""".stripMargin)),

    // PCA-ROTATED two-stage serving (matryoshka's learned-rotation twin
    // for embeddings without matryoshka training): coarse-rank on the
    // fitted projection coordinate(s) — m/d of the flops/bytes — then
    // exact re-score of only the kCoarse shortlist. The oracle walks the
    // identical chain: refit via the shared CTEs, project corpus + query,
    // coarse cut at 50 on the rounded projection product, exact top-10
    // over the shortlist. Exactness at kCoarse >= corpus is spec-pinned.
    ("sim_pca_refine",
      (s, dir) => {
        val pca = PcaArtifacts.fit(s, dir)
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.pcaCoarseRefineSearch(emb,
            pca.components.select(col("pos"), col("pc")), qv,
            kCoarse = 50, k = 10, projections = Some(pca.projections))
          .orderBy(col("score").desc, col("vec_id"))
      },
      Some(s"""$pcaPowerCtes,
             |vp AS (SELECT list(v ORDER BY i) AS varr FROM v4),
             |pr AS (SELECT e.vec_id,
             |         ROUND((SELECT SUM(y.a::DOUBLE * y.b)
             |                FROM (SELECT unnest(e.embedding) a, unnest(p.varr) b) y), 6) AS proj
             |       FROM embeddings e CROSS JOIN vp p),
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |qp AS (SELECT ROUND((SELECT SUM(y.a::DOUBLE * y.b)
             |                FROM (SELECT unnest(q.qv) a, unnest(p.varr) b) y), 6) AS qproj
             |       FROM q CROSS JOIN vp p),
             |coarse AS (SELECT pr.vec_id, ROUND(pr.proj * qp.qproj, 6) AS cs
             |           FROM pr CROSS JOIN qp
             |           ORDER BY cs DESC, vec_id LIMIT 50)
             |SELECT e.vec_id,
             |  ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |FROM embeddings e JOIN coarse c ON c.vec_id = e.vec_id CROSS JOIN q
             |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin)),

    // RECALL-vs-NPROBE CURVE as an oracle query: the nprobe-selection
    // evidence (RECALL.md / calibrateNprobe) pinned end-to-end — per-query
    // recall@10 of the pruned serving path at nprobe = 1, 2, 3 against the
    // exact top-10, every branch's probe prefix, pruned scoring, top-k cut,
    // and hit count re-derived in SQL. Monotonicity in nprobe is visible
    // in the output and spec-asserted on toy data (EvalSpec).
    ("eval_recall_curve",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        // the exact ground truth feeds all three nprobe rungs (and two
        // consumers inside each annQuality): stage it once (r18) so the
        // exact corpus pass runs once, not six times
        val truth = Mat.stageIfExpensive(
          Eval.ranked(Similarity.knnBatch(emb, queries, k = 10),
            "query_id", "vec_id", "sim"))
        Seq(1, 2, 3).map { np =>
          val ann = Eval.ranked(
            Similarity.ivfSearchBatchPruned(idx.cells, idx.centroids, queries,
              nprobe = np, k = 10),
            "query_id", "vec_id", "sim")
          Eval.annQuality(ann, truth, k = 10)
            .select(lit(np).as("nprobe"), col("query_id"), col("n_hit"),
              col("recall"))
        }.reduce(_ unionByName _).orderBy(col("nprobe"), col("query_id"))
      },
      Some(s"""$ivfCellCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |csr AS (SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |          ORDER BY cscore DESC, cluster) AS rn FROM cs),
             |exact AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e CROSS JOIN qs q),
             |truth AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM exact) x
             |  WHERE rn <= 10),
             |s1q AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN csr p ON p.cluster = a3.cluster AND p.rn <= 1
             |  JOIN qs q ON q.query_id = p.query_id),
             |an1 AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM s1q) x
             |  WHERE rn <= 10),
             |h1 AS (SELECT t.query_id, COUNT(a.vec_id) AS n_hit FROM truth t
             |       LEFT JOIN an1 a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
             |       GROUP BY 1),
             |s2q AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN csr p ON p.cluster = a3.cluster AND p.rn <= 2
             |  JOIN qs q ON q.query_id = p.query_id),
             |an2 AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM s2q) x
             |  WHERE rn <= 10),
             |h2 AS (SELECT t.query_id, COUNT(a.vec_id) AS n_hit FROM truth t
             |       LEFT JOIN an2 a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
             |       GROUP BY 1),
             |s3q AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN csr p ON p.cluster = a3.cluster AND p.rn <= 3
             |  JOIN qs q ON q.query_id = p.query_id),
             |an3 AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM s3q) x
             |  WHERE rn <= 10),
             |h3 AS (SELECT t.query_id, COUNT(a.vec_id) AS n_hit FROM truth t
             |       LEFT JOIN an3 a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
             |       GROUP BY 1)
             |SELECT 1 AS nprobe, query_id, n_hit, ROUND(n_hit / 10.0, 6) AS recall FROM h1
             |UNION ALL
             |SELECT 2 AS nprobe, query_id, n_hit, ROUND(n_hit / 10.0, 6) AS recall FROM h2
             |UNION ALL
             |SELECT 3 AS nprobe, query_id, n_hit, ROUND(n_hit / 10.0, 6) AS recall FROM h3
             |ORDER BY nprobe, query_id""".stripMargin)),

    // SEMDEDUP END-TO-END (Abbas et al. 2023): within-cluster cosine
    // pairing over the FITTED geometry (probes=1 => pure cell blocking,
    // the paper's within-cluster comparison set) -> connected components
    // -> keeper election by LOWEST centroid similarity (SemDeDup keeps
    // the example farthest from the cluster center — the most marginal
    // member — where dedup_semantic_keep_best keeps the highest-quality
    // one). The oracle walks the identical chain: kmeans CTEs, cell
    // candidates, threshold pairs, recursive-CTE closure, rank election.
    ("q39_semdedup_e2e",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val pairs = Dedup.cosinePairsBlocked(emb, idx.centroids,
          "vec_id", "embedding", threshold = 0.45, probes = 1)
        val comps = Dedup.canonicalIds(pairs.select(col("i"), col("j")))
        val assigned = Similarity.assignCells(emb, idx.centroids)
        val csim = assigned.join(idx.centroids, Seq("cluster"))
          .select(col("vec_id").as("id"),
            round(lit(-1.0) * VectorOps.dot(col("embedding"), col("cv")), 6)
              .as("score"))
        Dedup.keepBest(comps, csim).orderBy(col("id"))
      },
      Some((s"""$ivfCellCtes,
             |cand AS (SELECT a.vec_id AS i, b.vec_id AS j
             |         FROM a3 a JOIN a3 b ON a.cluster = b.cluster
             |           AND a.vec_id < b.vec_id),
             |prs AS (SELECT c.i, c.j FROM cand c
             |        JOIN embeddings a ON a.vec_id = c.i
             |        JOIN embeddings b ON b.vec_id = c.j
             |        WHERE (SELECT SUM(x.x::DOUBLE * x.y::DOUBLE)
             |               FROM (SELECT unnest(a.embedding) x, unnest(b.embedding) y) x)
             |          >= 0.45),
             |edges AS (SELECT i AS a, j AS b FROM prs
             |          UNION ALL SELECT j AS a, i AS b FROM prs),
             |nodes AS (SELECT DISTINCT a AS id FROM edges),
             |reach AS (SELECT id, id AS r FROM nodes
             |          UNION
             |          SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
             |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
             |csim AS (SELECT a3.vec_id AS id,
             |           ROUND(-1.0 * (SELECT SUM(x.x::DOUBLE * x.y::DOUBLE)
             |                 FROM (SELECT unnest(e.embedding) x, unnest(c.cv) y) x), 6) AS score
             |         FROM a3 JOIN embeddings e ON e.vec_id = a3.vec_id
             |         JOIN c2 c ON c.cluster = a3.cluster),
             |scored AS (SELECT cm.id, cm.comp, cs.score FROM comp cm JOIN csim cs USING (id)),
             |rk AS (SELECT id, comp, score, ROW_NUMBER() OVER (
             |         PARTITION BY comp ORDER BY score DESC, id) AS rn FROM scored),
             |best AS (SELECT comp, id AS best_id FROM rk WHERE rn = 1)
             |SELECT s.id, b.best_id, s.score, s.id = b.best_id AS keep
             |FROM scored s JOIN best b USING (comp)
             |ORDER BY s.id""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // the q39 semdedup chain at an AUTO-SHAPED coarse geometry (k=32,
    // the k ~ 4*sqrt(N) sizing IvfParams.auto picks near this corpus
    // scale): identical fitted blocking -> threshold pairs -> closure ->
    // marginal-keeper election, but cells are ~N/32 so the within-cell
    // candidate volume (the one quadratic term in the r12 10x scaling
    // table) shrinks ~16x. q39 stays at the oracle-friendly k=8 —
    // quadratic at 10x by construction; this row pins the same operator
    // chain at a finer fitted geometry — measured 10x ratio 4.9 vs q39's
    // 10.0 in the same run (any FIXED k stays quadratic in cell
    // population; full linearity is the auto k~sqrt(N) growth Q39Probe
    // measures). BASELINE.md r13 carries both rows.
    ("q39b_semdedup_auto",
      (s, dir) => {
        val cents = DenseArtifacts.kmeans32(s, dir)
        val emb = t(s, dir, "embeddings")
        val pairs = Dedup.cosinePairsBlocked(emb, cents,
          "vec_id", "embedding", threshold = 0.45, probes = 1)
        val comps = Dedup.canonicalIds(pairs.select(col("i"), col("j")))
        val assigned = Similarity.assignCells(emb, cents)
        val csim = assigned.join(cents, Seq("cluster"))
          .select(col("vec_id").as("id"),
            round(lit(-1.0) * VectorOps.dot(col("embedding"), col("cv")), 6)
              .as("score"))
        Dedup.keepBest(comps, csim).orderBy(col("id"))
      },
      Some((s"""${ivfCellCtesK(32)},
             |cand AS (SELECT a.vec_id AS i, b.vec_id AS j
             |         FROM a3 a JOIN a3 b ON a.cluster = b.cluster
             |           AND a.vec_id < b.vec_id),
             |prs AS (SELECT c.i, c.j FROM cand c
             |        JOIN embeddings a ON a.vec_id = c.i
             |        JOIN embeddings b ON b.vec_id = c.j
             |        WHERE (SELECT SUM(x.x::DOUBLE * x.y::DOUBLE)
             |               FROM (SELECT unnest(a.embedding) x, unnest(b.embedding) y) x)
             |          >= 0.45),
             |edges AS (SELECT i AS a, j AS b FROM prs
             |          UNION ALL SELECT j AS a, i AS b FROM prs),
             |nodes AS (SELECT DISTINCT a AS id FROM edges),
             |reach AS (SELECT id, id AS r FROM nodes
             |          UNION
             |          SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
             |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
             |csim AS (SELECT a3.vec_id AS id,
             |           ROUND(-1.0 * (SELECT SUM(x.x::DOUBLE * x.y::DOUBLE)
             |                 FROM (SELECT unnest(e.embedding) x, unnest(c.cv) y) x), 6) AS score
             |         FROM a3 JOIN embeddings e ON e.vec_id = a3.vec_id
             |         JOIN c2 c ON c.cluster = a3.cluster),
             |scored AS (SELECT cm.id, cm.comp, cs.score FROM comp cm JOIN csim cs USING (id)),
             |rk AS (SELECT id, comp, score, ROW_NUMBER() OVER (
             |         PARTITION BY comp ORDER BY score DESC, id) AS rn FROM scored),
             |best AS (SELECT comp, id AS best_id FROM rk WHERE rn = 1)
             |SELECT s.id, b.best_id, s.score, s.id = b.best_id AS keep
             |FROM scored s JOIN best b USING (comp)
             |ORDER BY s.id""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // streaming stateful dedup: first-seen keys across micro-batches ==
    // batch DISTINCT when only the key columns are emitted
    ("stream_dedup",
      (s, dir) => graft.streaming.EventsStreaming.streamingDedup(s, dir),
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    // STREAMING CURATION front-end: quality gate -> hash sample -> stateful
    // exact dedup as one streaming query; gates/sample run BEFORE the state
    // store so only admitted content hashes hold state. Emitted columns are
    // pure functions of the text, so streaming == the batch pipeline
    // STREAMING WEB-FILTER: the q38 composition (C4 -> Gopher -> dedup)
    // as one streaming query over a landing dir, one file per micro-batch;
    // gates run before the state store, state = cleaned-text hashes only,
    // and the emitted (content_hash, n_words) are text-pure so the
    // accumulated stream equals the batch pipeline — the oracle is q38's
    // CTE chain emitting the hash instead of the keeper id
    ("stream_webfilter",
      (s, dir) => {
        val landing = graft.streaming.Staging
          .stageTable(s"$dir/documents.parquet", "graft_swf_src").toString
        val body60 =
          ("the common body line of repeated and shared words here " * 6).trim + "."
        graft.streaming.CurationStreaming.webfilterLanding(s, landing,
          docs => docs.select(col("doc_id").as("id"),
            concat_ws("\n",
              when(col("doc_id") % 7 === 0, lit(body60))
                .otherwise(concat(col("text"), lit("."))),
              lit("too short"),
              when(col("doc_id") % 13 === 0, lit("# # # # # # # # noise line."))
                .otherwise(concat(lit("javascript "), col("text"), lit("."))),
              when(col("doc_id") % 7 === 0,
                  lit("And that will be the shared fourth line here?"))
                .otherwise(concat(col("text"), lit(" end?"))),
              col("text"),
              when(col("doc_id") % 10 === 0, lit("curly { brace."))
                .otherwise(lit("And that should be the third good line.")))
            .as("text")))
      },
      Some("""WITH synth AS (SELECT doc_id AS id,
             |  (CASE WHEN doc_id % 7 = 0 THEN
             |     trim(repeat('the common body line of repeated and shared words here ', 6)) || '.'
             |   ELSE text || '.' END) || chr(10)
             |  || 'too short' || chr(10)
             |  || (CASE WHEN doc_id % 13 = 0 THEN '# # # # # # # # noise line.'
             |      ELSE 'javascript ' || text || '.' END) || chr(10)
             |  || (CASE WHEN doc_id % 7 = 0 THEN 'And that will be the shared fourth line here?'
             |      ELSE text || ' end?' END) || chr(10)
             |  || text || chr(10)
             |  || (CASE WHEN doc_id % 10 = 0 THEN 'curly { brace.'
             |      ELSE 'And that should be the third good line.' END) AS text
             |  FROM documents),
             |c4l AS (SELECT id, text, string_split(text, chr(10)) AS lines FROM synth),
             |c4k AS (SELECT id, text,
             |          list_filter(lines, x -> regexp_matches(trim(x), '[.!?"]$')
             |            AND len(regexp_extract_all(trim(x), '\S+')) >= 3
             |            AND NOT contains(lower(x), 'javascript')) AS kept
             |        FROM c4l),
             |c4 AS (SELECT id, array_to_string(kept, chr(10)) AS text_clean
             |       FROM c4k
             |       WHERE len(kept) >= 3 AND NOT contains(text, '{')
             |         AND NOT contains(lower(text), 'lorem ipsum')),
             |gf AS (SELECT id, text_clean,
             |   regexp_extract_all(text_clean, '\S+') AS w,
             |   string_split(text_clean, chr(10)) AS l,
             |   regexp_extract_all(lower(text_clean), '\w+') AS tok FROM c4),
             |sig AS (SELECT id, text_clean,
             |   CAST(len(w) AS BIGINT) AS n_words,
             |   list_sum(list_transform(w, x -> strlen(x))) * 1.0 / len(w) AS mwl,
             |   ((strlen(text_clean) - strlen(replace(text_clean, '#', '')))
             |    + (strlen(text_clean) - strlen(replace(text_clean, '...', ''))) / 3)
             |   * 1.0 / len(w) AS symr,
             |   len(list_filter(l, x -> regexp_matches(trim(x), '^[-*]'))) * 1.0 / len(l) AS bulr,
             |   len(list_filter(l, x -> regexp_matches(trim(x), '\.\.\.$'))) * 1.0 / len(l) AS ellr,
             |   len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) * 1.0 / len(w) AS alpr,
             |   len(list_filter(['the','be','to','of','and','that','have','with'],
             |     sw -> list_contains(tok, sw))) AS nstop
             | FROM gf WHERE len(w) > 0)
             |SELECT DISTINCT
             |  CAST('0x' || substr(md5(text_clean), 1, 15) AS BIGINT) AS content_hash,
             |  n_words
             |FROM sig
             |WHERE n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
             |  AND symr <= 0.1 AND bulr <= 0.9 AND ellr <= 0.3
             |  AND alpr >= 0.8 AND nstop >= 2
             |ORDER BY content_hash""".stripMargin)),

    // STREAMING CLASSIFIER GATE: the GPT-3 selection rule as a streaming
    // admission filter — the NB model fits once in batch (the data
    // freeze), broadcasts into the stream as a literal map, and the
    // score -> sigmoid -> deterministic-Pareto keep all run as pure
    // projections BEFORE the state store (state = admitted content
    // hashes). The emitted set is batching-independent; the oracle
    // re-derives the whole chain in batch SQL.
    ("stream_classifier_gate",
      (s, dir) =>
        graft.streaming.CurationStreaming.classifierGateStream(s, dir),
      Some("""WITH tok AS (SELECT doc_id AS id, lang = 'en' AS pos,
             |    unnest(regexp_extract_all(lower(text), '\w+')) AS term FROM documents),
             |cnt AS (SELECT term, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS tfp,
             |               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS tfn
             |        FROM tok GROUP BY 1),
             |tot AS (SELECT SUM(tfp) AS np, SUM(tfn) AS nn, COUNT(*) AS v FROM cnt),
             |model AS (SELECT term,
             |    ROUND(ln((tfp + 1) / (np + v)) - ln((tfn + 1) / (nn + v)), 8) AS llr
             |  FROM cnt CROSS JOIN tot),
             |n AS (SELECT doc_id AS id,
             |    CAST(len(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |s AS (SELECT t.id, CAST(SUM(CAST(m.llr AS DECIMAL(28,12))) AS DOUBLE) AS sm
             |      FROM tok t JOIN model m USING (term) GROUP BY 1),
             |sc AS (SELECT n.id, CASE WHEN n.n_tokens > 0
             |         THEN ROUND(COALESCE(s.sm, 0.0) / n.n_tokens, 6) END AS nb
             |       FROM n LEFT JOIN s USING (id)),
             |pr AS (SELECT id, CASE WHEN nb IS NOT NULL
             |         THEN ROUND(1.0 / (1.0 + exp(-nb)), 6) END AS p_trusted FROM sc),
             |rs AS (SELECT id, p_trusted,
             |    ROUND(pow(1.0 - (('0x' || substr(md5('resample:' || CAST(id AS VARCHAR)),
             |      1, 15))::BIGINT % 1000000) / 1000000.0, -1.0/9) - 1.0, 8) AS pareto_draw
             |  FROM pr)
             |SELECT DISTINCT
             |  CAST('0x' || substr(md5(d.text), 1, 15) AS BIGINT) AS content_hash,
             |  r.p_trusted
             |FROM documents d JOIN rs r ON r.id = d.doc_id
             |WHERE r.pareto_draw > 1.0 - COALESCE(r.p_trusted, 0.0)
             |ORDER BY content_hash""".stripMargin)),

    ("stream_curate",
      (s, dir) => graft.streaming.CurationStreaming.curateStream(s, dir),
      Some("""WITH g AS (SELECT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_hash,
             |             len(regexp_extract_all(lower(text), '\w+')) AS n_tokens
             |           FROM documents
             |           WHERE n_chars >= 150
             |             AND CAST('0x' || substr(md5('scur:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             |                 % 10000 < 6000)
             |SELECT DISTINCT content_hash, n_tokens FROM g
             |WHERE n_tokens >= 20
             |ORDER BY content_hash""".stripMargin)),

    // watermarked stream-stream join (online J3/J4): with event-time bounds
    // + AvailableNow over a finite source, the streaming result equals the
    // batch join — which is exactly what the oracle checks
    ("stream_stream_join",
      (s, dir) => graft.streaming.EventsStreaming.clickPurchaseJoin(s, dir),
      Some("""WITH c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
             |           FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
             |      FROM events WHERE event_type = 'purchase')
             |SELECT c.user_id AS user_id, click_id, purchase_id,
             |       epoch_ms(cts) AS click_ms, epoch_ms(pts) AS purchase_ms
             |FROM c JOIN p ON c.user_id = p.user_id
             |  AND cts >= pts - INTERVAL 1 HOUR AND cts <= pts
             |ORDER BY c.user_id, click_id, purchase_id""".stripMargin)),

    // STREAMING ANN serving: five query vectors land one-file-each and are
    // answered across genuinely multiple micro-batches (maxFilesPerTrigger=2)
    // from the PERSISTED IVF artifacts — every batch probes driver-side and
    // scans only its probed cells' partitions; per-query top-k carries no
    // cross-batch state, so the accumulated stream result equals the
    // one-shot batch search, which is what the oracle pins
    ("stream_ann_topk",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val stage = stageQueryFiles(emb, 0 to 4, "graft_annq")
        graft.streaming.IncrementalIndex.serveAnnStream(
            s, stage, idx.cells, idx.centroids, nprobe = 2, k = 10)
          .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
      },
      Some(s"""$ivfCellCtes,
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             |       WHERE vec_id IN (0, 1, 2, 3, 4)),
             |cs AS (SELECT q.query_id, c.cluster, ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |         FROM (SELECT unnest(c.cv) a, unnest(q.qv) b) y), 6) AS cscore
             |       FROM c2 c CROSS JOIN qs q),
             |probe AS (SELECT query_id, cluster FROM (
             |    SELECT query_id, cluster, ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cscore DESC, cluster) AS rn FROM cs) x WHERE rn <= 2),
             |scored AS (SELECT q.query_id, e.vec_id,
             |    ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS sim
             |  FROM embeddings e JOIN a3 USING (vec_id)
             |  JOIN probe p ON p.cluster = a3.cluster
             |  JOIN qs q ON q.query_id = p.query_id),
             |rk AS (SELECT query_id, vec_id, sim, ROW_NUMBER() OVER (
             |         PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM scored)
             |SELECT query_id, vec_id, sim FROM rk WHERE rn <= 10
             |ORDER BY query_id, sim DESC, vec_id""".stripMargin)),

    // streaming RANGE serving: a stream of query vectors answered per
    // micro-batch from the persisted artifacts via the radius-bounded
    // batch range search. Range pruning is EXACT, so the oracle is the
    // flat per-query threshold filter — and because range results carry no
    // cross-batch state, the multi-micro-batch run must equal it exactly
    ("stream_range_search",
      (s, dir) => {
        val idx = DenseArtifacts.ivf(s, dir)
        val emb = t(s, dir, "embeddings")
        val stage = stageQueryFiles(emb, 0 to 4, "graft_rangeq")
        graft.streaming.IncrementalIndex.serveRangeStream(
            s, stage, idx.cells, idx.centroids, idx.radii.get,
            minScore = 0.25)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some("""WITH qs AS (SELECT vec_id AS query_id, embedding AS qv
             |            FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
             |sc AS (SELECT q.query_id, e.vec_id,
             |         ROUND((SELECT SUM(y.a::DOUBLE * y.b::DOUBLE)
             |           FROM (SELECT unnest(e.embedding) a, unnest(q.qv) b) y), 4) AS score
             |       FROM embeddings e CROSS JOIN qs q)
             |SELECT query_id, vec_id, score FROM sc WHERE score >= 0.25
             |ORDER BY query_id, score DESC, vec_id""".stripMargin)),

    ("w2_sessionize",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("__t"), col("event_id"))
        t(s, dir, "events")
          .withColumn("__t", unix_micros(col("ts")))
          .withColumn("__prev", lag(col("__t"), 1).over(w))
          .withColumn("__new",
            when(col("__prev").isNull || col("__t") - col("__prev") > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id",
            sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            // `div`, not `/`: Spark `/` on longs is double division and
            // loses the last microsecond digit at epoch-scale magnitudes
            expr("min(__t) div 1000").as("start_ms"),
            expr("max(__t) div 1000").as("end_ms"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
             |flag AS (SELECT user_id, event_id, t,
             |  CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
             |         OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
             |       THEN 1 ELSE 0 END AS nw
             |  FROM e),
             |sess AS (SELECT user_id, t,
             |  CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY t, event_id
             |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM flag)
             |SELECT user_id, session_id, COUNT(*) AS n_events,
             |       MIN(t) // 1000 AS start_ms, MAX(t) // 1000 AS end_ms
             |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin)),
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (n, fn, _) => n -> fn }.toMap

  def oracleSql: Map[String, String] =
    defs.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}

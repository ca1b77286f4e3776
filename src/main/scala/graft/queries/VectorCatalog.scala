package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.VectorOps._
import Parity._

/** Similarity search over the `embeddings` table (array<float>, dim 64).
  *
  * Brute-force cosine top-k is the exactness baseline (O(N·Q) narrow map —
  * broadcast the query set, never shuffle the corpus). Two scale paths sit
  * next to it: the random-hyperplane LSH variant (bucket shuffle +
  * within-bucket candidates only) and the IVF-Flat variant (stride-sampled
  * coarse quantizer, broadcast centroid model, nprobe cell scan — with a
  * persisted cell-partitioned index, [[buildIvfIndex]]/[[searchIvfIndex]],
  * and an int8-quantized scorer, [[annIvfQ8]]). Every query here is
  * DuckDB-oracled; VectorSpec additionally measures LSH and IVF recall
  * against the brute-force truth.
  */
object VectorCatalog {

  /** Per-vector L2 norm + label profile — the sanity scan (the corpus is
    * unit-normalized; the oracle proves the decimal dot path end-to-end). */
  def vecNorms(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("int").as("label"),
        normDec(col("embedding")).as("nrm"))
      .orderBy("vec_id")

  val vecNormsSql: String =
    """SELECT vec_id, label,
      |  sqrt(CAST(list_sum(list_transform(embedding,
      |    x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(26,12)))) AS DOUBLE)) AS nrm
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin

  /** Brute-force cosine top-10 for a 5-vector query set. The query side
    * is collected (5 vectors) and broadcast; the corpus is scanned once
    * with a per-row JVM scoring loop (narrow — the labeled O(N·Q)
    * exactness baseline). Scoring is
    * [[graft.functions.VectorOps.cosineDecJvm]], the bit-identical JVM
    * twin of the decimal-exact [[cosine]] column (the column form's
    * interpreted HOF lambdas measured ~3 s at sf0.1 for this scan; the
    * loop is sub-second) — so the DuckDB oracle is unchanged.
    *
    * The per-query top-k is the bounded-heap [[graft.plans.TopKAgg]]
    * keyed on qid, NOT `row_number() OVER (PARTITION BY qid)`: the window
    * form shuffles all N·Q scored pairs into |Q| reducer partitions
    * (5 reducers sorting the whole corpus each at any scale — the
    * catalog's last unbounded-shuffle plan until r9); the aggregate keeps
    * a ≤k heap per map partition, so the exchange carries k×|Q| rows per
    * partition and the |Q| reducers merge k-sized buffers. Same
    * (cos DESC, vec_id ASC) ranking → cell-identical result, and
    * PlanAudit gates the partial+final ObjectHashAggregate shape. */
  def knnBrute(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long"), col("embedding"))
    val q = e.filter(col("vec_id") < 5).as[(Long, Array[Float])].collect().sortBy(_._1)
    // hoist the norms (the [[graft.functions.VectorOps.dotDecJvm]]
    // contract): each query vector's norm computes ONCE at build, each
    // corpus row's norm once per row — cosineDecJvm inline would redo
    // both per (query, row) pair, 2.5× the decimal work for identical
    // bits (cos = dot / (na*nb), the exact same double ops)
    val qn = q.map { case (qid, qe) => (qid, qe, math.sqrt(dotDecJvm(qe, qe))) }
    val bc = spark.sparkContext.broadcast(qn)
    e.as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        val nb = math.sqrt(dotDecJvm(emb, emb))
        bc.value.iterator.filter(_._1 != id).map { case (qid, qe, na) =>
          val cos = if (na == 0.0 || nb == 0.0) None
            else Some(dotDecJvm(qe, emb) / (na * nb))
          (qid, id, cos)
        }
      }
      .toDF("qid", "vec_id", "cos")
      .groupBy(col("qid"))
      .agg(graft.plans.TopKAgg.topK(col("cos"), col("vec_id"), 10).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("qid"), (col("i") + 1).as("rn"),
        col("p.id").as("vec_id"), col("p.ord").as("cos"))
      .orderBy("qid", "rn")
  }

  val knnBruteSql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
      |c AS (
      |  SELECT qid, vec_id,
      |    CAST(list_sum(list_transform(range(1, len(qe)+1),
      |      i -> CAST(CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(26,12)))) AS DOUBLE)
      |    / NULLIF(sqrt(CAST(list_sum(list_transform(qe,
      |         x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(26,12)))) AS DOUBLE))
      |       * sqrt(CAST(list_sum(list_transform(embedding,
      |         x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(26,12)))) AS DOUBLE)), 0) AS cos
      |  FROM q, embeddings
      |  WHERE vec_id <> qid
      |)
      |SELECT qid, rn, vec_id, cos FROM (
      |  SELECT qid, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
      |  FROM c)
      |WHERE rn <= 10
      |ORDER BY qid, rn""".stripMargin

  /** Multi-tenant ANN: each `label` is a tenant, the tenant's min-id
    * vector is its query, and candidates come ONLY from the same tenant
    * — the isolation shape a shared serving index needs (tenant A's
    * neighbors must never leak into tenant B's results). The per-tenant
    * query model is two model-sized driver collects (|tenants| ids, then
    * |tenants| vectors — the same broadcast-model pattern as [[ivfModel]]);
    * scoring is a narrow flatMap where each row scores against ITS OWN
    * tenant's query (exactly one cosine per row), and the bounded-heap
    * [[graft.plans.TopKAgg]] keyed on (label, qid) keeps the exchange at
    * k×|tenants| rows per partition at any corpus size. At 100 TB the
    * same plan runs per-tenant over a label-partitioned store; nothing
    * here shuffles embeddings. */
  def annGrouped(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long"), col("embedding"),
        col("label").cast("int").as("label"))
    val qids = e.groupBy(col("label")).agg(min(col("vec_id")).as("qid"))
      .as[(Int, Long)].collect().map(_._2).toSet
    val qvecs = e.filter(col("vec_id").isin(qids.toSeq: _*))
      .as[(Long, Array[Float], Int)].collect()
      // query norms hoisted into the model (dotDecJvm contract): one of
      // cosineDecJvm's three decimal dots moves to build time, same bits
      .map { case (id, emb, lbl) =>
        lbl -> ((id, emb, math.sqrt(dotDecJvm(emb, emb)))) }.toMap
    val bc = spark.sparkContext.broadcast(qvecs)
    e.as[(Long, Array[Float], Int)]
      .flatMap { case (id, emb, lbl) =>
        bc.value.get(lbl).iterator.filter(_._1 != id).map { case (qid, qe, na) =>
          val nb = math.sqrt(dotDecJvm(emb, emb))
          val cos = if (na == 0.0 || nb == 0.0) None
            else Some(dotDecJvm(qe, emb) / (na * nb))
          (lbl, qid, id, cos)
        }
      }
      .toDF("label", "qid", "vec_id", "cos")
      .groupBy(col("label"), col("qid"))
      .agg(graft.plans.TopKAgg.topK(col("cos"), col("vec_id"), 10).as("tk"))
      .select(col("label"), col("qid"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("label"), col("qid"), (col("i") + 1).as("rn"),
        col("p.id").as("vec_id"), col("p.ord").as("cos"))
      .orderBy("label", "rn")
  }

  val annGroupedSql: String =
    """WITH e AS (SELECT vec_id, embedding, CAST(label AS INT) AS label FROM embeddings),
      |q AS (SELECT label, MIN(vec_id) AS qid FROM e GROUP BY label),
      |qv AS (SELECT q.label, q.qid, e.embedding AS qe
      |       FROM q JOIN e ON e.vec_id = q.qid),
      |c AS (
      |  SELECT qv.label, qv.qid, e.vec_id,
      |    CAST(list_sum(list_transform(range(1, len(qe)+1),
      |      i -> CAST(CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(26,12)))) AS DOUBLE)
      |    / NULLIF(sqrt(CAST(list_sum(list_transform(qe,
      |         x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(26,12)))) AS DOUBLE))
      |       * sqrt(CAST(list_sum(list_transform(e.embedding,
      |         x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(26,12)))) AS DOUBLE)), 0) AS cos
      |  FROM qv JOIN e ON e.label = qv.label AND e.vec_id <> qv.qid
      |)
      |SELECT label, qid, rn, vec_id, cos FROM (
      |  SELECT label, qid, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos DESC, vec_id ASC) AS rn
      |  FROM c)
      |WHERE rn <= 10
      |ORDER BY label, rn""".stripMargin

  /** Per-label centroid norm via posexplode + two-level aggregation — the
    * generator (F9) surface plus an elementwise-mean reduction. Decimal
    * sums keep both aggregation levels order-independent. */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label").cast("int").as("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(dsum(col("x").cast("double")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(sqrt(sum((col("s") / col("n") * (col("s") / col("n")))
        .cast(Parity.Dec)).cast("double")).as("centroid_norm"),
        max(col("n")).as("n_vecs"))
      .orderBy("label")

  val labelCentroidsSql: String =
    """WITH px AS (
      |  SELECT label, i, CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS s,
      |         COUNT(*) AS n
      |  FROM embeddings, range(1, 65) t(i)
      |  GROUP BY label, i
      |)
      |SELECT label,
      |  sqrt(CAST(SUM(CAST((s/n)*(s/n) AS DECIMAL(18,4))) AS DOUBLE)) AS centroid_norm,
      |  MAX(n) AS n_vecs
      |FROM px
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** Explode a corpus into its per-table LSH buckets with the occupancy
    * guard in-plan: an over-occupied bucket (geometry mis-sized for the
    * corpus, or degenerate data like a near-duplicate flood) kills the
    * job with a message instead of silently going quadratic inside the
    * bucket.
    *
    * The guard is a SLIM side-aggregate, not a window over the wide
    * frame: `max(count) OVER (tbl, bucket)` would force a full-corpus
    * exchange CARRYING THE EMBEDDINGS on every use of the bucketized
    * frame (r10 measured 2×2 MiB of pure guard traffic in the ANN probe
    * plan, whose join no longer co-partitions on (tbl, bucket)). Instead
    * the occupancy check aggregates a 2-column (tbl, bucket) projection
    * — map-side combine reduces it to distinct-buckets-per-partition
    * before its exchange — folds to ONE row, and rides back onto every
    * output row via a broadcast cross join + filter, which Catalyst
    * cannot prune away (VectorSpec proves the guard still fires). The
    * embeddings themselves never shuffle here.
    *
    * DELIBERATE 2x-CPU tradeoff: the guard's slim aggregate re-evaluates
    * the flatMap subplan, so each use of the bucketized frame hyperplane-
    * hashes the corpus twice (guard pass + output pass). The
    * alternatives are worse at scale: a window over the wide frame
    * forces a full-corpus exchange CARRYING THE EMBEDDINGS (what r10
    * removed — shuffle is the scarcer resource than CPU at 100 TB), and
    * checkpointing the slim projection still costs a full hashing pass
    * to materialize while adding eager evaluation and cache lifetime
    * management. Hashing is ~tables×bits×dim flops/vector — trivially
    * rerunnable, exactly the kind of narrow recompute Spark's lineage
    * model prices at zero.
    *
    * `reuse = true` (r19): corpus-side callers whose bucketized frame
    * feeds MORE than the guard (the ANN candidate side, both near-dup
    * self-join sides) lazily `localCheckpoint` the raw frame BEFORE the
    * guard attaches, collapsing guard pass + N consumer passes into ONE
    * hashing pass + checkpoint rereads. The guard subtree stays OUTSIDE
    * the checkpoint so its raise_error remains in the final plan
    * (PlanAudit). Probe-side callers (a handful of query rows) keep
    * reuse = false — a checkpoint job costs more than re-hashing 5
    * vectors. */
  def bucketize(corpus: DataFrame, geo: LshGeometry,
                reuse: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bk = new Bucketizer(geo.tables, geo.bits)
    val raw0 = corpus
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        bk.buckets(emb).zipWithIndex.map { case (b, t) => (id, emb, t, b) }
      }
      .toDF("vec_id", "embedding", "tbl", "bucket")
    val raw = if (reuse) raw0.localCheckpoint(false) else raw0
    // coalesce: max over an EMPTY corpus is NULL, and assert_true(NULL)
    // throws — an empty frame must pass the guard (0 buckets can't be
    // over-occupied), not die with a misleading "too coarse" error
    val guard = raw.select(col("tbl"), col("bucket"))
      .groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("maxc"))
      .select(assert_true(coalesce(col("maxc"), lit(0L)) <= lit(geo.maxBucket),
        lit(s"LSH bucket exceeds ${geo.maxBucket} vectors — geometry " +
          s"(${geo.tables} tables x ${geo.bits} bits) too coarse for this corpus"))
        .as("_guard"))
    raw.crossJoin(broadcast(guard))
      .filter(col("_guard").isNull)
      .drop("_guard")
  }

  /** ANN via random-hyperplane LSH with single-bit multiprobe, geometry
    * derived from the corpus size (bits ≈ log2(N / targetBucket) — see
    * [[graft.functions.VectorOps.lshGeometry]]). A neighbor is a
    * candidate if any table buckets it with the query; candidates get
    * exact cosine, then top-10. Oracled via [[annLshSql]], registered in
    * [[oracle]] so the driver's DuckDB harness hash-checks it every
    * round: hyperplanes are md5-derived (see
    * [[graft.functions.VectorOps.hyperplane]]), the bucket dot products
    * fold in ascending-index double order (= DuckDB `list_reduce`), and
    * candidate scoring uses the decimal-exact cosine, so DuckDB rebuilds
    * the identical candidate set and ranking. VectorSpec additionally
    * measures recall vs brute force
    * at two geometries. At scale the corpus bucketing is the stored
    * index and the join shuffles on (table, bucket) — never the O(N·Q)
    * pair space. */
  // Geometry derivation needs the corpus cardinality — production would
  // read it from table statistics; here a full count. The session-scoped
  // corpus under sfDir is immutable, so memoize the count per
  // (session, corpus, planted?) rather than re-scanning on every call
  // (the re-scan landed inside the benchmarked time for both ANN queries).
  private val corpusCount =
    new graft.core.BoundedMemo[(SparkSession, String, Boolean), Long](8)((_, _) => ())

  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.embeddings(spark, sfDir)
    val n = corpusCount.get((spark, sfDir, false))(corpus.count())
    annLshWith(corpus, lshGeometry(n))
  }

  def annLshWith(corpus: DataFrame, geo: LshGeometry): DataFrame = {
    val e = bucketize(corpus, geo, reuse = true)
    // bucketize ONLY the query rows for the probe side — hyperplane
    // hashing is deterministic and per-row, so this is row-identical to
    // filtering the bucketized corpus, without the broadcast build side
    // re-hashing (and re-guarding) all N corpus vectors to extract 5.
    // The corpus-side occupancy guard still runs, on `e`.
    val q = bucketize(corpus.filter(col("vec_id") < 5), geo)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("tbl"),
        explode(multiprobe(col("bucket"), geo.bits)).as("probe"))
    // explicit aliases: `q` was once derived from `e`, where
    // `q("tbl") === e("tbl")` resolves BOTH sides to the same attribute —
    // Spark drops it as trivially true and a probe would match
    // same-bit-pattern buckets of every table (~tables× candidate
    // inflation; recall unharmed, cost not). PlanSpec gates this bug
    // class across the catalog, and the aliases stay as a second fence.
    val spark = corpus.sparkSession
    import spark.implicits._
    // Score BEFORE the (qid, vec_id) dedup, not after: the cosine is a
    // pure function of the pair, so every duplicate (same pair surfacing
    // from multiple tables/probes) scores identically and the dedup
    // exchange carries (qid, vec_id, cos) at ~24 B/row instead of two
    // embedding vectors at ~520 B/row (sf0.1: 5 MiB -> ~1 MiB). Scoring
    // is cosineDecJvm — the bit-identical JVM twin of the decimal-exact
    // `cosine` column (VectorSpec proves exact equality), so the DuckDB
    // oracle is unchanged; the JVM loop is also ~10x the interpreted HOF
    // column's speed, which more than covers the ≤ tables×probes
    // duplicate-factor of extra evals. Cost stays bounded by the
    // CANDIDATE count — tables×probes×bucket hits per query — never the
    // corpus, so the scale shape is unchanged.
    // …and BROADCAST the probe side (queries×tables×probes — a few
    // hundred rows at any corpus size), the same shape ivfCandidates
    // uses: the bucketized corpus is never shuffled at all; candidates
    // form map-side in the scan partitions and only scored id-pairs
    // ever reach an exchange.
    val cand = broadcast(q.as("q")).join(e.as("e"),
        col("q.tbl") === col("e.tbl") && col("q.probe") === col("e.bucket") &&
          col("e.vec_id") =!= col("q.qid"))
      .select(col("q.qid").as("qid"), col("e.vec_id").as("vec_id"),
        col("q.qe").as("qe"), col("e.embedding").as("embedding"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .map { case (qid, vid, qe, emb) => (qid, vid, cosineDecJvm(qe, emb)) }
      .toDF("qid", "vec_id", "cos")
      .dropDuplicates("qid", "vec_id")
    rankTopK(cand, "cos")
  }

  /** Per-query top-k + presentation over scored candidate rows
    * (qid, vec_id, <score>) — the ONE definition of the catalog's
    * (score DESC, vec_id ASC) ANN ranking contract, shared by every
    * window-ranked path. The window is legitimate here because every
    * caller's candidates are bucket/cell-bounded BEFORE ranking; the
    * unpruned scorers (knnBrute, annPq) use the bounded-heap TopKAgg
    * instead. */
  private def rankTopK(scored: DataFrame, score: String, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col(score).desc, col("vec_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col(score))
      .orderBy("qid", "rn")
  }

  /** The DuckDB spelling of [[bucketize]] over an arbitrary corpus CTE —
    * shared by [[annLshSql]] and [[vecNearDupSql]]. Mirrors the engine
    * stage for stage: `geo` recomputes [[graft.functions.VectorOps.lshGeometry]]
    * from the corpus count (`floor(x + 0.5)` = JVM `math.round`, clamped
    * to [2, 32]); `planes` rebuilds the md5-derived hyperplanes
    * (`md5_number_upper` wrapped to signed BIGINT via HUGEINT — the u64
    * twin of [[graft.functions.TextOps.md5Upper64]] — scaled by 2^63);
    * `dots` folds each projection in ascending-index double order
    * (`list_reduce` = the Bucketizer's ascending JVM loop, so every sign
    * bit is bit-identical); `bkt` assembles the '0'/'1' bucket strings
    * in bit order. */
  private def lshBucketCte(corpusSql: String): String =
    s"""corpus AS ($corpusSql),
      |geo AS (
      |  SELECT 4 AS tables,
      |    LEAST(32, GREATEST(2, CAST(floor(ln(n / 32.0) / ln(2.0) + 0.5) AS INTEGER))) AS bits,
      |    dim
      |  FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS n, MAX(len(embedding)) AS dim FROM corpus)
      |),
      |planes AS (
      |  SELECT t, j, list(r ORDER BY i) AS pv
      |  FROM (
      |    SELECT t, j, i,
      |      CAST(CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
      |               THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS DOUBLE)
      |        / 9.223372036854776e18 AS r
      |    FROM (
      |      SELECT t, j, i,
      |        md5_number_upper(t::VARCHAR || '|' || j::VARCHAR || '|' || i::VARCHAR) AS u
      |      FROM (SELECT unnest(range(0, tables)) AS t FROM geo),
      |           (SELECT unnest(range(0, bits)) AS j FROM geo),
      |           (SELECT unnest(range(0, dim)) AS i FROM geo)
      |    )
      |  )
      |  GROUP BY t, j
      |),
      |embd AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM corpus
      |),
      |dots AS (
      |  SELECT e.vec_id, p.t, p.j,
      |    list_reduce(list_transform(range(1, len(e.v) + 1), k -> e.v[k] * p.pv[k]),
      |      (a, b) -> a + b) AS dot
      |  FROM embd e, planes p
      |),
      |bkt AS (
      |  SELECT vec_id, t,
      |    string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
      |  FROM dots GROUP BY vec_id, t
      |)""".stripMargin

  /** [[graft.functions.VectorOps.cosine]]'s decimal-exact spelling over
    * aliases `a`/`b` — the [[knnBruteSql]] pattern, shared by both ANN
    * oracles. Each norm is wrapped in NULLIF(..., 0) to mirror the
    * engine's NULL-on-zero-norm semantics (cosine `when`-guards the
    * division; an unguarded DuckDB divide would return inf instead). */
  private def decCosineSql: String =
    """    CAST(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |      i -> CAST(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) AS DECIMAL(26,12)))) AS DOUBLE)
      |    / (NULLIF(sqrt(CAST(list_sum(list_transform(a.embedding,
      |         x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(26,12)))) AS DOUBLE)), 0)
      |       * NULLIF(sqrt(CAST(list_sum(list_transform(b.embedding,
      |         x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(26,12)))) AS DOUBLE)), 0))""".stripMargin

  /** DuckDB oracle for [[annLsh]]: rebuild the buckets bit-identically
    * ([[lshBucketCte]]), expand the query side through the same
    * single-bit multiprobe, take DISTINCT within-bucket candidates, score
    * with the decimal-exact cosine, rank top-10. */
  val annLshSql: String =
    s"""WITH ${lshBucketCte("SELECT vec_id, embedding FROM embeddings")},
      |probes AS (
      |  SELECT qid, t,
      |    CASE WHEN f = 0 THEN bucket
      |         ELSE substr(bucket, 1, CAST(f AS INTEGER) - 1) ||
      |              CASE WHEN substr(bucket, CAST(f AS INTEGER), 1) = '1' THEN '0' ELSE '1' END ||
      |              substr(bucket, CAST(f AS INTEGER) + 1) END AS probe
      |  FROM (SELECT vec_id AS qid, t, bucket FROM bkt WHERE vec_id < 5),
      |       (SELECT unnest(range(0, bits + 1)) AS f FROM geo)
      |),
      |cand AS (
      |  SELECT DISTINCT p.qid, e.vec_id
      |  FROM probes p JOIN bkt e ON p.t = e.t AND p.probe = e.bucket AND e.vec_id <> p.qid
      |),
      |scored AS (
      |  SELECT c.qid, c.vec_id,
      |$decCosineSql AS cos
      |  FROM cand c JOIN corpus a ON a.vec_id = c.qid
      |              JOIN corpus b ON b.vec_id = c.vec_id
      |)
      |SELECT qid, rn, vec_id, cos FROM (
      |  SELECT qid, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
      |  FROM scored)
      |WHERE rn <= 10
      |ORDER BY qid, rn""".stripMargin

  /** The DuckDB spelling of [[nearDupCorpus]]: embeddings plus perturbed
    * copies of the first 20 vectors. The perturbation replays
    * [[nearDupCorpus]]'s transform index-for-index — Spark's 0-based
    * lambda index `i` with 1-based `element_at((i+1) % d + 1)` is
    * DuckDB's 1-based `i` with `embedding[(i % d) + 1]` — in double
    * arithmetic with one final float cast, so the planted vectors are
    * bit-identical cross-engine. */
  private val nearDupCorpusSql: String =
    """SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(CAST(embedding[i] AS DOUBLE)
      |           + 0.1 * CAST(embedding[(i % len(embedding)) + 1] AS DOUBLE) AS FLOAT)) AS embedding
      |  FROM embeddings WHERE vec_id < 20""".stripMargin

  /** DuckDB oracle for [[vecNearDup]]: plant the perturbed duplicates
    * ([[nearDupCorpusSql]]), rebuild the buckets bit-identically
    * ([[lshBucketCte]] — the geometry CTE sees the planted corpus, so it
    * derives the same bits as the engine's `lshGeometry(n + 20)`),
    * self-join within (table, bucket) on `v1 < v2`, dedup the pair set
    * across tables, score with the decimal-exact cosine, keep ≥ 0.95.
    * The engine's 0.94 fused-cosine pre-filter needs no mirror: its
    * relative error is ~1e-15, so no pair with exact cos ≥ 0.95 is ever
    * dropped by it, and survivors below 0.95 are cut by the final filter
    * on both sides. */
  val vecNearDupSql: String =
    s"""WITH ${lshBucketCte(nearDupCorpusSql)},
      |pairs AS (
      |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
      |  FROM bkt x JOIN bkt y
      |    ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
      |),
      |scored AS (
      |  SELECT p.v1, p.v2,
      |$decCosineSql AS cos
      |  FROM pairs p JOIN corpus a ON a.vec_id = p.v1
      |               JOIN corpus b ON b.vec_id = p.v2
      |)
      |SELECT v1, v2, cos FROM scored
      |WHERE cos >= 0.95
      |ORDER BY v1, v2""".stripMargin

  /** Embedding-cosine near-duplicate detection — the vector-space member
    * of the dedup family: bucket the corpus with the LSH tables, compare
    * only within-bucket pairs with the codegen'd fused cosine, keep
    * pairs ≥ 0.95. Same no-O(n²) shape as text MinHash/LSH. Oracled via
    * [[vecNearDupSql]], registered in [[oracle]] so the driver's DuckDB
    * harness hash-checks it every round (md5-derived hyperplanes +
    * decimal-exact verification cosine + bit-identical planted
    * duplicates); VectorSpec additionally checks against the
    * brute-force threshold pairs.
    *
    * The synthetic corpus has no organic ≥0.95 pairs (measured max
    * pairwise cosine ≈ 0.51), so the query PLANTS perturbed duplicates of
    * the first 20 vectors (deterministic shift, cos ≈ 0.995, id + 10^6)
    * before bucketing — the detector is exercised end-to-end on every run
    * instead of vacuously returning 0 rows. */
  /** The corpus [[vecNearDup]] runs over: the embeddings table plus
    * perturbed copies of the first 20 vectors. Exposed so VectorSpec can
    * compute its brute-force truth set over the SAME corpus. */
  def nearDupCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    // y_i = x_i + 0.1 * x_{(i+1) mod d}: for near-unit random vectors the
    // added term is ~orthogonal, so cos(x,y) ≈ 1/sqrt(1.01) ≈ 0.995 — a
    // genuine near-duplicate (not an exact copy, which cosine can't rank)
    // double arithmetic with ONE final float cast: float ops differ
    // between engines (single- vs double-rounding), but double ops are
    // IEEE-identical and the final double→float rounding is too — so the
    // planted vectors are bit-identical to the oracle's
    val planted = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
                 cast(cast(x as double) + 0.1d * cast(element_at(embedding,
                   (cast(i as int) + 1) % size(embedding) + 1) as double)
                 as float))""").as("embedding"))
    base.union(planted)
  }

  def vecNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, sfDir)
    val n = corpusCount.get((spark, sfDir, true))(corpus.count())
    vecNearDupWith(corpus, lshGeometry(n))
  }

  def vecNearDupWith(corpus: DataFrame, geo: LshGeometry): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val e = bucketize(corpus, geo, reuse = true)
    e.as("x").join(e.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        col("x.embedding").as("e1"), col("y.embedding").as("e2"))
      // two-stage scoring: the codegen'd fused cosine pre-filters the
      // within-bucket pair flood at 0.94 (its relative error is ~1e-15,
      // so nothing with exact cos ≥ 0.95 can fall below it), then the
      // decimal-exact cosine — which the oracle reproduces — scores only
      // the handful of survivors. The exact stage is cosineDecJvm, the
      // bit-identical JVM twin of the decimal `cosine` column (VectorSpec
      // proves pairwise equality), not the column itself: the column's
      // aggregate/zip_with decimal chain runs as interpreted lambdas and
      // measured +2 s at sf0.1 to score 62 survivors — the JVM loop
      // scores the same rows for free, and only survivors ever
      // deserialize (the typed map sits above the pre-filter).
      //
      // Both stages run BEFORE the cross-table pair dedup, not after:
      // each is a pure function of (e1, e2), so every duplicate of a pair
      // scores identically and dedup-then-score == score-then-dedup. The
      // payoff is the shuffle payload — the dedup exchange carries
      // (v1, v2, cos) at ~24 B/row instead of two embedding vectors at
      // ~520 B/row, and only for pre-filter SURVIVORS instead of the
      // whole candidate flood (sf0.1: 52 MiB -> ~2 MiB measured; at
      // corpus scale it is the difference between shuffling ids and
      // shuffling the vector store). The duplicate-factor cost is
      // bounded by `tables` (≤4 extra cosine evals per near-dup pair) on
      // codegen'd columns that never leave their bucket partition.
      .filter(graft.plans.CosineSimilarity.cosineSim(col("e1"), col("e2")) >= 0.94)
      .as[(Long, Long, Array[Float], Array[Float])]
      .map { case (v1, v2, a, b) => (v1, v2, cosineDecJvm(a, b)) }
      .toDF("v1", "v2", "cos")
      .filter(col("cos") >= 0.95)
      .dropDuplicates("v1", "v2")
      .orderBy("v1", "v2")
  }

  /** ANN via IVF-Flat with a deterministic coarse quantizer — the
    * second scale path next to [[annLsh]], trading LSH's probabilistic
    * buckets for data-adaptive cells: `nlist ≈ sqrt(N)` centroids are
    * stride-sampled from the corpus itself (`vec_id % stride == 0` — no
    * k-means iterations, so no cross-engine float-convergence hazard),
    * every vector joins its highest-cosine cell, and a query scans only
    * its `nprobe` nearest cells. Search cost per query is
    * O(nprobe·N/nlist) ≈ O(sqrt(N)) instead of O(N).
    *
    * Shape at 100 TB: the assignment is a narrow map over the corpus
    * with the centroid model broadcast (nlist·dim floats — ~25 MB at
    * nlist=100k, dim=64 — the standard IVF train/search split; MLlib
    * KMeans broadcasts its model the same way, which is why the small
    * driver-side centroid collect below is the right call, not an
    * anti-pattern). The assigned table IS the stored index: persisted
    * partitioned by `list_id`, a query's candidate read prunes to its
    * nprobe partitions. Here candidate selection broadcasts the tiny
    * probe set instead, so the corpus is never shuffled at all.
    *
    * Oracled via [[annIvfSql]]: geometry, assignment, and probing all
    * derive from `COUNT(*)` + ascending-index double dots (=DuckDB
    * `list_reduce`), and final scoring is the decimal-exact cosine —
    * so DuckDB rebuilds the identical index and ranking. VectorSpec
    * additionally checks recall vs brute force and assignment
    * optimality vs an in-plan argmax. */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val n = corpusCount.get((spark, sfDir, false))(corpus.count())
    annIvfWith(corpus, ivfGeometry(n))
  }

  /** The coarse-quantizer "model" for a corpus: a few KB here, ~25 MB at
    * 100 TB — collected once, broadcast to every task (see [[annIvf]]
    * scaladoc for why the driver-side collect is the right call). */
  def ivfModel(corpus: DataFrame, geo: IvfGeometry): IvfAssigner = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = corpus.filter(col("vec_id") % geo.stride === 0)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    new IvfAssigner(cents)
  }

  /** Tag every corpus row with its IVF cell — a stateless narrow map
    * with the model broadcast. Takes the CALLER's broadcast handle: the
    * model is ~25 MB at deployment scale (see [[annIvf]] scaladoc), and
    * a path that probes and assigns must ship it to executors once, not
    * once per helper. */
  private def ivfAssign(corpus: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[IvfAssigner]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, emb) => (id, emb, bc.value.assign(emb)) }
      .toDF("vec_id", "embedding", "list_id")
  }

  /** Decimal-exact cosine + per-query top-k over candidate rows
    * (qid, qe, vec_id, embedding) — shared by the in-memory and
    * persisted-index search paths so both rank identically. */
  private def topKByCosine(cand: DataFrame, k: Int): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    // cosineDecJvm, not the `cosine` column: the column's decimal
    // zip_with/aggregate chain runs as interpreted lambdas (the
    // [[vecNearDupWith]] lesson — bit-identical values either way,
    // VectorSpec pins the pair)
    rankTopK(cand
      .select(col("qid"), col("vec_id"), col("qe"), col("embedding"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .map { case (qid, vid, qe, emb) => (qid, vid, cosineDecJvm(qe, emb)) }
      .toDF("qid", "vec_id", "cos"), "cos", k)
  }

  /** The IVF candidate set for the `vec_id < 5` query set: assign,
    * probe, and join within probed cells — shared by the exact
    * ([[annIvfWith]]) and int8-quantized ([[annIvfQ8With]]) scorers, so
    * both rank the SAME candidates and differ only in scoring. */
  private def ivfCandidates(corpus: DataFrame, geo: IvfGeometry): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val assigner = ivfModel(corpus, geo)
    val bc = spark.sparkContext.broadcast(assigner)
    val assigned = ivfAssign(corpus, bc)
    // probe from the FILTERED corpus, not the assigned frame: a filter
    // above the opaque typed map cannot push through SerializeFromObject,
    // so probing `assigned` would run the full O(N·nlist·d) assignment
    // pass a second time just to keep 5 rows
    val probes = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        bc.value.probe(emb, geo.nprobe).map(l => (id, emb, l)) }
      .toDF("qid", "qe", "probe")
    // broadcast the probe side: candidate selection is a narrow hash
    // lookup over the corpus — no shuffle. Each vector lives in exactly
    // ONE cell and a query's probes are distinct, so (qid, vec_id)
    // candidates are unique by construction — no dedup pass (one fewer
    // exchange than the LSH variant needs).
    assigned.as("e").join(broadcast(probes.as("q")),
        col("q.probe") === col("e.list_id") && col("e.vec_id") =!= col("q.qid"))
      .select(col("q.qid").as("qid"), col("q.qe").as("qe"),
        col("e.vec_id").as("vec_id"), col("e.embedding").as("embedding"))
  }

  def annIvfWith(corpus: DataFrame, geo: IvfGeometry): DataFrame =
    topKByCosine(ivfCandidates(corpus, geo), 10)

  /** Persist the IVF index: the assigned corpus committed as epoch 0 of
    * an [[graft.core.EpochManifest]] store rooted at `indexDir`, with
    * `list_id` a partition column in every data dir — the layout that
    * makes [[searchIvfIndex]]'s candidate read a directory-level prune
    * instead of a corpus scan, and the one the IVF-PQ codes store uses.
    * [[graft.streaming.Jobs.ivfIndexAppend]] appends later epochs; a
    * search reads exactly the dirs one manifest names, so it never sees
    * a half-landed epoch. Returns the coarse-quantizer model; callers
    * keep it (or rebuild it from the same corpus — it is deterministic)
    * for query-time probing. */
  def buildIvfIndex(corpus: DataFrame, geo: IvfGeometry, indexDir: String): IvfAssigner = {
    val assigner = ivfModel(corpus, geo)
    appendIvfIndex(corpus, assigner, indexDir, epoch = 0L)
    assigner
  }

  /** The stored IVF index row — explicit so manifest reads never infer
    * a schema (an epoch with no rows has no file to infer from). */
  val ivfIndexSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("list_id", LongType)))
  }

  /** Assign a batch against the fixed model and land it as IVF index
    * epoch `epoch` (a retried epoch commits a replacement entry). */
  def appendIvfIndex(batch: DataFrame, assigner: IvfAssigner,
                     indexDir: String, epoch: Long): Unit =
    graft.core.EpochManifest.append(
      ivfAssign(batch, batch.sparkSession.sparkContext.broadcast(assigner)),
      indexDir, epoch, partitionBy = Seq("list_id"))

  /** Search a persisted IVF index: probe cells are computed driver-side
    * from the broadcast-scale model (queries arrive from OUTSIDE the
    * cluster in a serving path — they are a handful of vectors, not a
    * DataFrame), the read of the manifest snapshot prunes every entry to
    * the probed `list_id` partitions (VectorSpec asserts the scan's
    * selected partitions equal the probed cells), and scoring/ranking
    * shares [[topKByCosine]] with the in-memory plan, so results are
    * identical to [[annIvfWith]] over the same corpus (VectorSpec proves
    * equality). */
  def searchIvfIndex(spark: SparkSession, indexDir: String, assigner: IvfAssigner,
                     queries: Seq[(Long, Array[Float])], nprobe: Int,
                     k: Int = 10): DataFrame = {
    import spark.implicits._
    val probes = queries.flatMap { case (qid, qe) =>
      assigner.probe(qe, nprobe).map(l => (qid, qe, l)) }
    val touched = probes.map(_._3).distinct.sorted
    val probeDf = probes.toDF("qid", "qe", "probe")
    val cand = graft.core.EpochManifest.read(spark, indexDir, ivfIndexSchema)
      // partition-column predicate → directory-level pruning: only the
      // probed cells are listed and read
      .filter(col("list_id").isin(touched: _*))
      .join(broadcast(probeDf),
        col("probe") === col("list_id") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qe"), col("vec_id"), col("embedding"))
    topKByCosine(cand, k)
  }

  /** DuckDB oracle for [[annIvf]]: recompute the geometry from
    * `COUNT(*)` (`floor(x+0.5)` = JVM `math.round`; `//` = JVM long
    * division for the stride and nprobe), rebuild every assignment and
    * probe with ascending-index double dots (`list_reduce` = the
    * [[graft.functions.VectorOps.IvfAssigner]] loops, so each cos is
    * bit-identical and the `ROW_NUMBER ... ORDER BY cos DESC, cid ASC`
    * tie-break matches the assigner's first-max/-id-ascending rules),
    * then score candidates with the decimal-exact cosine and rank
    * top-10 exactly like the engine. The zero-norm CASE mirrors the
    * assigner's -inf guard. */
  /** The candidate-generation CTEs shared by [[annIvfSql]] and
    * [[annIvfQ8Sql]] — the SQL spelling of [[ivfCandidates]]. */
  private val ivfCandSql: String =
    s"""corpus AS (SELECT vec_id, embedding FROM embeddings),
      |par AS (
      |  SELECT GREATEST(1, cnt // nlist0) AS stride,
      |         GREATEST(4, nlist0 // 8) AS nprobe
      |  FROM (SELECT cnt,
      |          GREATEST(1, CAST(floor(sqrt(CAST(cnt AS DOUBLE)) + 0.5) AS BIGINT)) AS nlist0
      |        FROM (SELECT COUNT(*) AS cnt FROM corpus))
      |),
      |nrm AS (
      |  SELECT vec_id, v,
      |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nv
      |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM corpus)
      |),
      |cents AS (
      |  SELECT vec_id AS cid, v AS cv, nv AS nc FROM nrm
      |  WHERE vec_id % (SELECT stride FROM par) = 0
      |),
      |cc AS (
      |  SELECT e.vec_id, c.cid,
      |    CASE WHEN e.nv = 0 OR c.nc = 0 THEN CAST('-infinity' AS DOUBLE)
      |         ELSE list_reduce(list_transform(range(1, len(e.v) + 1),
      |                k -> e.v[k] * c.cv[k]), (a, b) -> a + b) / (e.nv * c.nc)
      |    END AS cos
      |  FROM nrm e, cents c
      |),
      |assign AS (
      |  SELECT vec_id, cid AS list_id FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
      |    FROM cc)
      |  WHERE rn = 1
      |),
      |probes AS (
      |  SELECT vec_id AS qid, cid AS probe FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
      |    FROM cc WHERE vec_id < 5)
      |  WHERE rn <= (SELECT nprobe FROM par)
      |),
      |cand AS (
      |  SELECT p.qid, a.vec_id
      |  FROM probes p JOIN assign a ON a.list_id = p.probe AND a.vec_id <> p.qid
      |)""".stripMargin

  val annIvfSql: String =
    s"""WITH $ivfCandSql,
      |scored AS (
      |  SELECT c.qid, c.vec_id,
      |$decCosineSql AS cos
      |  FROM cand c JOIN corpus a ON a.vec_id = c.qid
      |              JOIN corpus b ON b.vec_id = c.vec_id
      |)
      |SELECT qid, rn, vec_id, cos FROM (
      |  SELECT qid, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
      |  FROM scored)
      |WHERE rn <= 10
      |ORDER BY qid, rn""".stripMargin

  /** ANN over int8-QUANTIZED vectors — the memory-bound search path
    * that [[vecQuantize]]'s storage profile exists for: a 100 TB float32
    * corpus searched as 25 TB of int8 with integer dot kernels. Same
    * IVF candidate generation as [[annIvf]] (shared [[ivfCandidates]]),
    * but scoring quantizes both sides symmetrically (per-vector
    * scale = max|x|/127, q_i = round(x_i/scale)) and ranks by the
    * quantized cosine qa·qb / (|qa|·|qb|) — the per-vector scales
    * cancel, so the rank needs no dequantization. Every quantized dot
    * and squared norm is EXACT INTEGER arithmetic (|q| ≤ 127, dim 64 →
    * |qdot| ≤ ~10^6, far inside long), which is what makes this fully
    * oracle-able: DuckDB reproduces the integers digit-for-digit and
    * the final divide/sqrt are single deterministic double ops.
    * VectorSpec measures the rank agreement against the exact-cosine
    * scorer over the same candidates. */
  def annIvfQ8(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val n = corpusCount.get((spark, sfDir, false))(corpus.count())
    annIvfQ8With(corpus, ivfGeometry(n))
  }

  def annIvfQ8With(corpus: DataFrame, geo: IvfGeometry): DataFrame = {
    // staged projections, same trap as vecQuantize: inline, the
    // array_max subtree lands inside the transform lambdas and
    // re-evaluates per ELEMENT
    val q = ivfCandidates(corpus, geo)
      .withColumn("va", transform(col("qe"), x => x.cast("double")))
      .withColumn("vb", transform(col("embedding"), x => x.cast("double")))
      .withColumn("sa", array_max(transform(col("va"), x => abs(x))) / lit(127.0))
      .withColumn("sb", array_max(transform(col("vb"), x => abs(x))) / lit(127.0))
      .withColumn("qa", transform(col("va"),
        x => round(x / nullif(col("sa"), lit(0.0))).cast("long")))
      .withColumn("qb", transform(col("vb"),
        x => round(x / nullif(col("sb"), lit(0.0))).cast("long")))
      .select(col("qid"), col("vec_id"),
        aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
          lit(0L), (a, v) => a + v).as("qdot"),
        sqrt(aggregate(col("qa"), lit(0L), (a, x) => a + x * x).cast("double")).as("qna"),
        sqrt(aggregate(col("qb"), lit(0L), (a, x) => a + x * x).cast("double")).as("qnb"))
    rankTopK(q.select(col("qid"), col("vec_id"),
      when(col("qna") === 0.0 || col("qnb") === 0.0, lit(null).cast("double"))
        .otherwise(col("qdot").cast("double") / (col("qna") * col("qnb"))).as("cos8")),
      "cos8")
  }

  /** DuckDB oracle for [[annIvfQ8]]: the shared IVF candidate CTEs,
    * then the same symmetric quantization ([[vecQuantizeSql]]'s round
    * parity — both engines round half away from zero) and the
    * exact-integer quantized cosine. The zero-norm CASE mirrors the
    * engine's null guard. */
  val annIvfQ8Sql: String =
    s"""WITH $ivfCandSql,
      |quant AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(round(x / NULLIF(scale, 0.0)) AS BIGINT)) AS qv
      |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |        FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |              FROM corpus))
      |),
      |qnorm AS (
      |  SELECT vec_id, qv,
      |    sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS qn
      |  FROM quant
      |),
      |scored AS (
      |  SELECT c.qid, c.vec_id,
      |    CASE WHEN a.qn = 0 OR b.qn = 0 THEN NULL
      |         ELSE CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
      |                k -> a.qv[k] * b.qv[k])) AS DOUBLE) / (a.qn * b.qn)
      |    END AS cos8
      |  FROM cand c JOIN qnorm a ON a.vec_id = c.qid
      |              JOIN qnorm b ON b.vec_id = c.vec_id
      |)
      |SELECT qid, rn, vec_id, cos8 FROM (
      |  SELECT qid, vec_id, cos8,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos8 DESC, vec_id ASC) AS rn
      |  FROM scored)
      |WHERE rn <= 10
      |ORDER BY qid, rn""".stripMargin

  /** Symmetric int8 quantization profile — the storage form of a 100 TB
    * embedding corpus (4× smaller than float32, and int8 dot kernels):
    * per-vector scale = max|x|/127, q_i = round(x_i/scale), plus the
    * saturation count and max reconstruction error that tell you whether
    * the corpus tolerates the quantizer. Pure double arithmetic in one
    * narrow map; both engines follow IEEE-754 + round-half-away, so the
    * oracle is exact. NULLIF guards the all-zero vector (divide-by-zero
    * nulls out identically on both sides). */
  def vecQuantize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      // staged projections: scale and qv must be computed ONCE per row —
      // written inline, the array_max subtree lands inside the transform
      // lambdas and re-evaluates per ELEMENT (O(d²) per row, measured ~5×
      // slower at sf0.1)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("scale",
        array_max(transform(col("v"), x => abs(x))) / lit(127.0))
      .withColumn("qv",
        transform(col("v"), x => round(x / nullif(col("scale"), lit(0.0)))))
      .select(
        col("vec_id"),
        col("scale"),
        aggregate(col("qv"), lit(0L), (a, q) => a + q.cast("long")).as("qsum"),
        size(filter(col("qv"), q => abs(q) === 127.0)).cast("long").as("n_sat"),
        array_max(zip_with(col("v"), col("qv"),
          (x, q) => abs(x - q * col("scale")))).as("recon_err"))
      .orderBy("vec_id")

  val vecQuantizeSql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), s AS (
      |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |  FROM e
      |), q AS (
      |  SELECT vec_id, v, scale,
      |    list_transform(v, x -> round(x / NULLIF(scale, 0.0))) AS qv
      |  FROM s
      |)
      |SELECT vec_id, scale,
      |  CAST(list_sum(list_transform(qv, x -> CAST(x AS BIGINT))) AS BIGINT) AS qsum,
      |  len(list_filter(qv, x -> abs(x) = 127.0)) AS n_sat,
      |  list_max(list_transform(range(1, len(v) + 1),
      |    i -> abs(v[i] - qv[i] * scale))) AS recon_err
      |FROM q
      |ORDER BY vec_id""".stripMargin

  /** Lloyd's k-means over the embedding corpus (`q_vec_kmeans`) — the
    * clustering step training-data pipelines run for semantic dedup
    * (SemDeDup-style: near-dups cluster together), topic balancing, and
    * training the IVF coarse quantizer that [[annIvf]] stride-samples.
    * Deterministic init (every stride-th vector, the [[annIvf]]
    * convention), then `iters` rounds of assign-to-nearest /
    * recompute-means, then a final assignment whose per-cluster size and
    * inertia (sum of squared L2 distances) is the output.
    *
    * Scale shape: classic distributed Lloyd — the k×d centroid model
    * broadcasts; each round is one narrow pass over the corpus (assign)
    * plus one k×d-sized shuffle (posexplode → per-(cluster,dim) partial
    * sums). The corpus is never collected and never self-joined; cost is
    * iters × (scan + tiny shuffle).
    *
    * Oracle parity, the load-bearing part: distances are exact decimal
    * sums of per-element squared diffs (the [[knnBrute]] move), so
    * argmin — ties broken by cluster id — agrees across engines; each
    * centroid mean is an exact decimal per-dimension sum ROUNDed to
    * scale 6 (HALF_UP in both engines) BEFORE one double division, so
    * the next round's distances see bit-identical centroids (an
    * unrounded decimal→double at ~15 significant digits is where
    * DuckDB's conversion stops being correctly rounded — the dsumProd
    * lesson). Inertia rounds the exact decimal sum to 4. */
  def kmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.embeddings(spark, sfDir)
    val n = corpusCount.get((spark, sfDir, false))(corpus.count())
    kmeansWith(corpus, n, k = 8, iters = 2)
  }

  def kmeansWith(corpus: DataFrame, n: Long, k: Int, iters: Int): DataFrame =
    kmeansAssignWith(corpus, n, k, iters)
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("dist")), 4).cast("double").as("inertia"))
      .orderBy("c")

  /** The Lloyd loop itself, ending in a final assignment frame
    * (vec_id, embedding, c, dist) — shared by [[kmeansWith]] (which
    * aggregates it) and [[semDedup]] (which pairs within clusters).
    *
    * The k×d centroid model lives on the driver and broadcasts each
    * round — the canonical distributed-Lloyd split (Spark MLlib's
    * KMeans does exactly this): assignment is a narrow per-row JVM loop
    * over the broadcast model ([[graft.functions.VectorOps.l2DecJvm]] —
    * the decimal chain as column HOFs ran interpreted per element and
    * dominated the bench), the mean update is a k×d-sized declarative
    * aggregation whose 512-row result is collected back. Ties in the
    * argmin go to the lowest cluster id (strict `<` over ascending c —
    * the same (dist, c) order the oracle's ROW_NUMBER uses). */
  def kmeansAssignWith(corpus: DataFrame, n: Long, k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val emb = corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val stride = math.max(1L, n / k)
    var cents: Array[(Int, Array[Double])] = emb
      .filter(r => r._1 % stride == 0 && r._1 / stride < k)
      .collect()
      .map { case (id, e) => ((id / stride).toInt, e.map(_.toDouble)) }
      .sortBy(_._1)
    def assign(cs: Array[(Int, Array[Double])]): DataFrame = {
      val bc = spark.sparkContext.broadcast(cs)
      emb.map { case (id, e) =>
        val k = bc.value
        // double pre-screen: decimal-evaluate only centroids within ε of
        // the double minimum. Sound: |decimal − double| per distance is
        // ≤ 64·5e-13 (scale-12 element rounding) + float-sum error, so
        // with ε = 1e-6 no possible decimal argmin is screened out; the
        // exact decimal compare then decides (ties → lowest c, the
        // oracle's ROW_NUMBER order), independent of the screen's
        // summation order
        val dd = new Array[Double](k.length)
        var minD = Double.MaxValue
        var j = 0
        while (j < k.length) {
          val cent = k(j)._2
          var s = 0.0
          var i = 0
          while (i < cent.length) {
            val d = e(i).toDouble - cent(i); s += d * d; i += 1
          }
          dd(j) = s
          if (s < minD) minD = s
          j += 1
        }
        var bestC = -1
        var bestD: java.math.BigDecimal = null
        j = 0
        while (j < k.length) {
          if (dd(j) <= minD + 1e-6) {
            val d = l2DecJvm(e, k(j)._2)
            if (bestD == null || d.compareTo(bestD) < 0) { bestC = k(j)._1; bestD = d }
          }
          j += 1
        }
        (id, e, bestC, new scala.math.BigDecimal(bestD))
      }.toDF("vec_id", "embedding", "c", "dist")
    }
    for (_ <- 1 to iters) {
      val mRows = assign(cents)
        .select(col("c"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("c"), col("i"))
        .agg(sum(col("x").cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(26, 12))).as("s"),
          count(lit(1)).as("nv"))
        // exact decimal sum ROUNDed to scale 6 before ONE double
        // division: both engines then iterate on bit-identical centroids
        .select(col("c"), col("i"), (round(col("s"), 6).cast("double") / col("nv")).as("m"))
        .collect()
      cents = mRows.groupBy(_.getInt(0)).map { case (c, rows) =>
        (c, rows.sortBy(_.getInt(1)).map(_.getDouble(2)))
      }.toArray.sortBy(_._1)
    }
    assign(cents)
  }

  /** One DuckDB Lloyd round over source relation `src`: argmin
    * assignment against centroid CTE `centCte` (exact-decimal distances,
    * c-id tiebreak) named `out`. */
  private def kmAssignSql(centCte: String, out: String, src: String): String =
    s"""$out AS (
      |  SELECT vec_id, embedding, c, dist FROM (
      |    SELECT vec_id, embedding, c, dist,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rn
      |    FROM (
      |      SELECT e.vec_id, e.embedding, cc.c,
      |        list_sum(list_transform(range(1, 65),
      |          i -> CAST((CAST(e.embedding[i] AS DOUBLE) - cc.cent[i])
      |                  * (CAST(e.embedding[i] AS DOUBLE) - cc.cent[i])
      |                AS DECIMAL(26,12)))) AS dist
      |      FROM $src e CROSS JOIN $centCte cc) t0) t1
      |  WHERE rn = 1)""".stripMargin

  /** Centroid update: per-(c, dim) exact decimal sums rounded to scale 6
    * before the single double division, reassembled in dim order. */
  private def kmUpdateSql(assignCte: String, out: String): String =
    s"""${out}_m AS (
      |  SELECT c, i,
      |    CAST(ROUND(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(26,12))), 6) AS DOUBLE)
      |      / COUNT(*) AS m
      |  FROM $assignCte, range(1, 65) r(i)
      |  GROUP BY c, i
      |), $out AS (
      |  SELECT c, list(m ORDER BY i) AS cent FROM ${out}_m GROUP BY c)""".stripMargin

  /** The full unrolled Lloyd CTE chain over `src` (stride init, `iters`
    * assign/update rounds, one final assignment). `kSql` is a SQL
    * expression over `n` (the corpus count) giving the cluster count —
    * "8" for the fixed-k clustering query, corpus-derived for
    * [[semDedup]]'s cell sizing. Returns the WITH-body fragment and the
    * name of the final assignment CTE. */
  private def kmeansCtesSql(src: String, iters: Int, kSql: String = "8"): (String, String) = {
    val header =
      s"""km_n AS (SELECT COUNT(*) AS n FROM $src),
        |km_p AS (SELECT ($kSql) AS k, GREATEST(1, n // ($kSql)) AS stride FROM km_n),
        |c0 AS (
        |  SELECT CAST(vec_id // stride AS INTEGER) AS c,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
        |  FROM $src, km_p
        |  WHERE vec_id % stride = 0 AND vec_id // stride < k
        |)""".stripMargin
    val rounds = (1 to iters).map { r =>
      kmAssignSql(s"c${r - 1}", s"a$r", src) + ",\n" + kmUpdateSql(s"a$r", s"c$r")
    }
    val fin = s"a${iters + 1}"
    val body = (header +: rounds :+ kmAssignSql(s"c$iters", fin, src)).mkString(",\n")
    (body, fin)
  }

  val kmeansSql: String = {
    val (ctes, fin) = kmeansCtesSql("embeddings", 2)
    s"""WITH $ctes
      |SELECT c, COUNT(*) AS n_vecs,
      |  CAST(ROUND(SUM(dist), 4) AS DOUBLE) AS inertia
      |FROM $fin
      |GROUP BY c
      |ORDER BY c""".stripMargin
  }

  /** Semantic dedup, SemDeDup-style (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * instead of hashing (LSH buckets, [[vecNearDup]]), bucket the corpus
    * by its LEARNED structure — k-means cells — and compare only
    * within-cell pairs. One Lloyd refinement round assigns every vector
    * (planted near-dups land in the same cell as their original: their
    * distance-to-centroid profiles are ~identical), then the same
    * two-stage scoring as [[vecNearDupWith]]: fused-cosine pre-filter at
    * 0.94 cuts the within-cell pair flood, decimal-exact cosine keeps
    * pairs ≥ 0.95. Same corpus and output shape as `q_vec_neardup`, so
    * the two bucketing strategies are directly comparable.
    *
    * Scale: within-cell pair count is Σ|cell|², bounded by sizing k with
    * the corpus (k ≈ N / target-cell-size, exactly how the [[annIvf]]
    * geometry derives nlist) — never global O(N²). */
  /** SemDeDup cell count: grows with the corpus so cells stay ~64
    * vectors (the IVF-nlist discipline) and within-cell pair work stays
    * linear-ish. NO upper clamp (r18's 128-cell cap made mean cell size
    * grow as n/128 unbounded past n=8192, breaking the per-cell
    * collect_list memory bound this sizing exists to guarantee); the
    * floor keeps fixture geometry, the Int clamp is overflow defense. */
  private[graft] def semDedupK(n: Long): Int =
    math.max(8L, math.min(Int.MaxValue.toLong, n / 64)).toInt

  /** Hard bound on how many same-cell members one pairing group may
    * collect into a single aggregation buffer (~600 KB of 64-dim float
    * structs — far under executor task memory, and (2·bound)² caps any
    * one group's local pair fan-out). k ∝ n keeps MEAN cell size ~64,
    * but k-means skew can concentrate far more in one cell — any cell
    * above this bound is salted into sub-cells before collect_list
    * (see [[semDedupPairs]]), so per-buffer memory and per-task pair
    * fan-out stay bounded regardless of skew. VectorSpec gates the
    * collected-group bound on a skewed synthetic. */
  private[graft] val semDedupCellBound = 2048

  def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, sfDir)
    val n = corpusCount.get((spark, sfDir, true))(corpus.count())
    val assigned = kmeansAssignWith(corpus, n, k = semDedupK(n), iters = 1)
      .select(col("vec_id"), col("embedding"), col("c"))
    if (n <= semDedupCellBound)
      // no cell can exceed the bound (cells partition the corpus), so
      // the skew scan is PROVABLY a no-op: skip its extra jobs and keep
      // the single-pass r18 plan shape
      semDedupPairs(assigned, Map.empty)
    else {
      // lazy localCheckpoint: ONE Lloyd assignment pass feeds both the
      // skew scan below and the pairing pass (without it the heavy
      // assignment subtree — a full corpus pass — would recompute per
      // consumer, the exact disease r18 cured here). Executor-local,
      // non-replicated: acceptable for this id+embedding+cell projection
      // (recompute on executor loss = one Lloyd pass, no correctness
      // risk).
      val a = assigned.localCheckpoint(false)
      semDedupPairs(a, semDedupSplits(a))
    }
  }

  /** Heavy-hitter scan (AQE-skew-style) over a cell assignment:
    * per-cell counts aggregate map-side to k tiny rows; only cells OVER
    * the bound reach the driver (≤ n/bound entries by construction —
    * the same order as the per-partition size maps Spark's own driver
    * already holds). Expected EMPTY at healthy geometry (mean 64 vs
    * bound 2048 = 32× skew headroom). */
  private[graft] def semDedupSplits(a: DataFrame): Map[Int, Int] =
    a.groupBy(col("c")).agg(count(lit(1)).as("m"))
      .filter(col("m") > semDedupCellBound)
      .collect()
      .map(r => r.getInt(0) ->
        math.ceil(r.getLong(1).toDouble / semDedupCellBound).toInt)
      .toMap

  /** Within-cell i<j pairing + two-stage scoring over a (checkpointed)
    * cell assignment `a` = (vec_id, embedding, c). ONE pass: group
    * members by cell (the only shuffle — embeddings move once, keyed by
    * cell id) and generate every i<j member pair locally from the
    * vec_id-sorted cell array. The pre-r18 self-join on c recomputed the
    * whole Lloyd assignment once PER JOIN SIDE and planned the corpus as
    * a broadcast side — at 100 TB that is two full corpus passes plus a
    * corpus-sized broadcast. Scoring mirrors [[vecNearDupWith]]: the
    * codegen'd fused-cosine pre-filter at 0.94, then the decimal-exact
    * JVM twin (bit-identical to the `cosine` column — VectorSpec) on
    * the survivors only.
    *
    * `splits` (cell → sub-cell count, from the caller's heavy-hitter
    * scan) guards the skew case: a member of an oversized cell gets a
    * deterministic sub-cell g = pmod(xxhash64(vec_id), s) and is
    * replicated to the s triangle groups (c, min(g,t), max(g,t)),
    * t ∈ [0, s); group (i, j) then keeps exactly the pairs with
    * {g₁, g₂} = {i, j}, so every within-cell pair is generated exactly
    * once while no group collects more than ~2·bound members (two
    * sub-cells' worth) and no task fans out more than ~(2·bound)²
    * pairs. Empty `splits` keeps the plain one-group-per-cell shape —
    * bit-identical plan to r18 on unskewed data, still NO join operator
    * on either path (PlanAudit). */
  private[graft] def semDedupPairs(a: DataFrame, splits: Map[Int, Int]): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val pairs =
      if (splits.isEmpty)
        a.groupBy(col("c"))
          .agg(array_sort(collect_list(struct(col("vec_id"), col("embedding")))).as("vs"))
          .select(col("vs"), posexplode(col("vs")).as(Seq("i", "x")))
          .select(col("x.vec_id").as("v1"), col("x.embedding").as("e1"),
            explode(expr("slice(vs, i + 2, size(vs))")).as("y"))
          .select(col("v1"), col("y.vec_id").as("v2"), col("e1"),
            col("y.embedding").as("e2"))
      else {
        // the splits map is a driver-built LITERAL map expression
        // (heavy hitters only — small by construction), not a join:
        // codegen lookup, and the no-join plan property survives
        val sMap = map(splits.toSeq
          .flatMap { case (c, s) => Seq(lit(c), lit(s)) }: _*)
        val salted = a
          .withColumn("s", coalesce(element_at(sMap, col("c")), lit(1)))
          .withColumn("g", pmod(xxhash64(col("vec_id")), col("s")).cast("int"))
          .select(col("c"), col("vec_id"), col("embedding"), col("g"),
            explode(sequence(lit(0), col("s") - 1)).as("t"))
        salted
          .groupBy(col("c"), least(col("g"), col("t")).as("gi"),
            greatest(col("g"), col("t")).as("gj"))
          .agg(array_sort(collect_list(
            struct(col("vec_id"), col("g"), col("embedding")))).as("vs"))
          .select(col("gi"), col("gj"), col("vs"), posexplode(col("vs")).as(Seq("i", "x")))
          .select(col("gi"), col("gj"), col("x.vec_id").as("v1"),
            col("x.g").as("g1"), col("x.embedding").as("e1"),
            explode(expr("slice(vs, i + 2, size(vs))")).as("y"))
          .filter(least(col("g1"), col("y.g")) === col("gi") &&
            greatest(col("g1"), col("y.g")) === col("gj"))
          .select(col("v1"), col("y.vec_id").as("v2"), col("e1"),
            col("y.embedding").as("e2"))
      }
    pairs
      .filter(graft.plans.CosineSimilarity.cosineSim(col("e1"), col("e2")) >= 0.94)
      .as[(Long, Long, Array[Float], Array[Float])]
      .map { case (v1, v2, x, y) => (v1, v2, cosineDecJvm(x, y)) }
      .toDF("v1", "v2", "cos")
      .filter(col("cos") >= 0.95)
      .orderBy("v1", "v2")
  }

  val semDedupSql: String = {
    val (ctes, fin) = kmeansCtesSql("corpus", 1, "GREATEST(8, n // 64)")
    s"""WITH corpus AS (
      |$nearDupCorpusSql
      |),
      |$ctes,
      |sd_pairs AS (
      |  SELECT x.vec_id AS v1, y.vec_id AS v2
      |  FROM $fin x JOIN $fin y ON x.c = y.c AND x.vec_id < y.vec_id
      |),
      |sd_scored AS (
      |  SELECT p.v1, p.v2,
      |$decCosineSql AS cos
      |  FROM sd_pairs p JOIN corpus a ON a.vec_id = p.v1
      |                  JOIN corpus b ON b.vec_id = p.v2
      |)
      |SELECT v1, v2, cos FROM sd_scored
      |WHERE cos >= 0.95
      |ORDER BY v1, v2""".stripMargin
  }

  /** Semantic benchmark decontamination (`q_vec_decontam`) — the
    * embedding-space twin of the 8-gram [[TextCatalog.decontam]]: n-gram
    * overlap misses paraphrased eval leakage, so score every training
    * document against the eval set's embeddings and flag high-cosine
    * hits. Eval set = vectors 0-4; corpus = [[nearDupCorpus]] minus the
    * eval rows, which plants perturbed copies of the eval vectors
    * (cos ≈ 0.995 — paraphrase-grade leakage) so the detector is
    * exercised end-to-end; organic max similarity in the fixture is
    * ~0.40, far under the 0.9 flag threshold.
    *
    * Output is corpus-centric (per training doc: nearest eval id, its
    * exact cosine, the flag) — the shape a curation pipeline filters
    * on — vs [[knnBrute]]'s query-centric top-k. Scale: the eval model
    * (|eval|×d floats) broadcasts; scoring is one narrow JVM-loop pass
    * over the corpus, no join, no shuffle; ties go to the lowest eval
    * id (the oracle's ROW_NUMBER order). */
  def vecDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val corpus = nearDupCorpus(spark, sfDir)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    // eval norms hoisted once, decimal-exact (= what cosineDecJvm uses)
    val eval = corpus.filter(_._1 < 5).collect().sortBy(_._1)
      .map { case (qid, qe) => (qid, qe, math.sqrt(dotDecJvm(qe, qe))) }
    val bc = spark.sparkContext.broadcast(eval)
    corpus.filter(_._1 >= 5)
      .map { case (id, e) =>
        val qs = bc.value
        val na = math.sqrt(dotDecJvm(e, e))
        // double pre-screen (same soundness argument as the k-means
        // argmin): plain-double cosine is within ~1e-12 of the decimal
        // one, so only candidates within 1e-9 of the double max can be
        // the decimal argmax — usually one — and only those pay the
        // decimal dot; ties go to the lowest eval id
        val dd = qs.map { case (_, qe, nb) =>
          var s = 0.0
          var i = 0
          while (i < e.length) { s += e(i).toDouble * qe(i).toDouble; i += 1 }
          if (na == 0.0 || nb == 0.0) Double.NegativeInfinity else s / (na * nb)
        }
        val maxD = dd.max
        var bestQ = -1L
        var best = Double.NegativeInfinity
        var j = 0
        while (j < qs.length) {
          if (dd(j) >= maxD - 1e-9) {
            val (qid, qe, nb) = qs(j)
            val c = if (na == 0.0 || nb == 0.0) Double.NegativeInfinity
                    else dotDecJvm(e, qe) / (na * nb)
            if (c > best) { best = c; bestQ = qid }
          }
          j += 1
        }
        // zero-norm rows (this vector, or every eval vector) have no
        // defined cosine: emit what the oracle's NULLIF + NULLS LAST
        // ROW_NUMBER produces — eval_id 0 (lowest id among the all-NULL
        // ties), NULL score, NULL flag — instead of a private
        // (-1, -Infinity, false) convention the oracle can't reproduce
        if (best == Double.NegativeInfinity)
          (id, 0L, None: Option[Double], None: Option[Boolean])
        else (id, bestQ, Some(best), Some(best >= 0.9))
      }
      .toDF("vec_id", "eval_id", "max_cos", "contaminated")
      .orderBy("vec_id")
  }

  /** [[decCosineSql]] with VALUEOF-semantics element rounding: Spark's
    * double→decimal cast goes through the double's SHORTEST string
    * (`BigDecimal.valueOf`) then HALF_UP, while DuckDB's plain cast
    * rounds the EXACT binary expansion — the two disagree precisely when
    * the shortest repr ends in a bare `…5` at the target scale whose
    * exact expansion continues below it (first observed: element 58 of
    * the (137, 4) decontam dot, product 0.0443377983005 → Spark
    * …301 / plain-cast …300). `CAST(CAST(x AS VARCHAR) AS DECIMAL)`
    * makes DuckDB round the same shortest string Java does. The
    * exhaustive per-pair scoring here (515×5×3 sums × 64 elements) is
    * what surfaced the tie; the top-k oracles keep the plain cast, which
    * the driver's cell-exact gate would flag if a tie ever landed in
    * their kept rows. */
  private def decCosineStrSql: String =
    """    CAST(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |      i -> CAST(CAST(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(26,12)))) AS DOUBLE)
      |    / (NULLIF(sqrt(CAST(list_sum(list_transform(a.embedding,
      |         x -> CAST(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(26,12)))) AS DOUBLE)), 0)
      |       * NULLIF(sqrt(CAST(list_sum(list_transform(b.embedding,
      |         x -> CAST(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(26,12)))) AS DOUBLE)), 0))""".stripMargin

  val vecDecontamSql: String =
    s"""WITH corpus AS (
      |$nearDupCorpusSql
      |),
      |scored AS (
      |  SELECT a.vec_id, b.vec_id AS eval_id,
      |$decCosineStrSql AS cos
      |  FROM corpus a CROSS JOIN corpus b
      |  WHERE a.vec_id >= 5 AND b.vec_id < 5
      |)
      |SELECT vec_id, eval_id, cos AS max_cos, cos >= 0.9 AS contaminated
      |FROM (
      |  SELECT vec_id, eval_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, eval_id ASC) AS rn
      |  FROM scored)
      |WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  /** Product quantization profile (`q_vec_pq`) — the FAISS-style
    * compression step beside the scalar int8 profile ([[vecQuantize]]):
    * split each 64-dim vector into 8 subvectors of 8 dims, train a
    * 16-centroid codebook per subspace (stride init + ONE Lloyd round —
    * the [[kmeansAssignWith]] discipline per subspace), encode every
    * vector as 8 code bytes, and report the exact squared reconstruction
    * error (= the sum of the 8 chosen per-subspace distances — no
    * re-derivation needed). 64 floats become 8 bytes, the 32× shrink
    * that makes billion-vector ANN RAM-resident.
    *
    * Parity discipline is the k-means one per subspace: exact-decimal
    * distances with double pre-screen (screen margin 1e-6 ≫ the ~1e-11
    * decimal-vs-double drift), argmin ties to the lowest code,
    * scale-6-rounded means before one double division, recon error as
    * the exact decimal sum rounded to 6. The m×ksub×sub model (~4 KB)
    * lives on the driver and broadcasts — the corpus never self-joins;
    * one update shuffle is m×ksub×sub-sized. */
  def pqProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val corpus = Tables.embeddings(spark, sfDir)
    val n = corpusCount.get((spark, sfDir, false))(corpus.count())
    val emb = corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    pqPresent(pqEncode(emb, pqModelMemo.get((spark, sfDir))(pqTrain(emb, n))))
  }

  private val PqM = 8; private val PqSub = 8; private val PqK = 16

  /** Exact-decimal squared distance from a subvector slice to an 8-dim
    * centroid — the per-element cast/round discipline of
    * [[graft.functions.VectorOps.l2DecJvm]] over a slice. */
  private def pqDistDec(e: Array[Float], s: Int,
      cent: Array[Double]): java.math.BigDecimal = {
    var acc = java.math.BigDecimal.ZERO
    var t = 0
    while (t < PqSub) {
      val d = e(s * PqSub + t).toDouble - cent(t)
      acc = acc.add(java.math.BigDecimal.valueOf(d * d)
        .setScale(12, java.math.RoundingMode.HALF_UP))
      t += 1
    }
    acc
  }

  /** Per-row PQ encode against broadcast codebooks: double pre-screen
    * per subspace, exact-decimal argmin among the ε-close candidates
    * (ties → lowest code — the oracle's ROW_NUMBER order). Returns the
    * code and the exact total reconstruction error. */
  private def pqEncode(emb: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      bks: Array[Array[Array[Double]]])
      : org.apache.spark.sql.Dataset[(Long, Array[Float], Array[Int], scala.math.BigDecimal)] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bks)
    emb.map { case (id, e) =>
      val bk = bc.value
      val code = new Array[Int](PqM)
      var recon = java.math.BigDecimal.ZERO
      var s = 0
      while (s < PqM) {
        val cents = bk(s)
        val dd = new Array[Double](cents.length)
        var minD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var acc = 0.0
          var t = 0
          while (t < PqSub) {
            val d = e(s * PqSub + t).toDouble - cents(c)(t); acc += d * d; t += 1
          }
          dd(c) = acc
          if (acc < minD) minD = acc
          c += 1
        }
        var bestC = -1
        var bestD: java.math.BigDecimal = null
        c = 0
        while (c < cents.length) {
          if (dd(c) <= minD + 1e-6) {
            val acc = pqDistDec(e, s, cents(c))
            if (bestD == null || acc.compareTo(bestD) < 0) { bestC = c; bestD = acc }
          }
          c += 1
        }
        code(s) = bestC
        recon = recon.add(bestD)
        s += 1
      }
      (id, e, code, new scala.math.BigDecimal(recon))
    }
  }

  /** Train the PQ codebooks (stride init + one Lloyd round per
    * subspace) — shared by [[pqProfile]] and [[annPq]], memoized per
    * session/corpus since the model is deterministic. */
  private val pqModelMemo =
    new graft.core.BoundedMemo[(SparkSession, String), Array[Array[Array[Double]]]](8)((_, _) => ())

  private def pqTrain(emb: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      n: Long): Array[Array[Array[Double]]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val stride = math.max(1L, n / PqK)
    def sliceD(e: Array[Float], s: Int): Array[Double] =
      Array.tabulate(PqSub)(t => e(s * PqSub + t).toDouble)
    var books: Array[Array[Array[Double]]] = {
      val init = emb.filter(r => r._1 % stride == 0 && r._1 / stride < PqK)
        .collect().sortBy(_._1)
      Array.tabulate(PqM)(s => init.map { case (_, e) => sliceD(e, s) })
    }
    val mRows = pqEncode(emb, books)
      .flatMap { case (_, e, code, _) =>
        for (d <- 0 until PqM * PqSub)
          yield (d / PqSub, code(d / PqSub), d % PqSub, e(d).toDouble)
      }
      .toDF("s", "c", "t", "x")
      .groupBy(col("s"), col("c"), col("t"))
      .agg(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(26, 12))).as("sm"),
        count(lit(1)).as("nv"))
      .select(col("s"), col("c"), col("t"),
        (round(col("sm"), 6).cast("double") / col("nv")).as("mv"))
      .collect()
    // effective cell count = init size, which is min(n, PqK): a corpus
    // smaller than PqK=16 yields fewer init centroids, and tabulating a
    // hardcoded PqK here would index past the init array on the
    // empty-cell fallback (AIOOBE for any sub-16-vector batch)
    val k = books(0).length
    Array.tabulate(PqM) { s =>
      val bySub = mRows.filter(_.getInt(0) == s)
      Array.tabulate(k) { c =>
        val rows = bySub.filter(_.getInt(1) == c)
        if (rows.isEmpty) books(s)(c) // empty code cell keeps its init centroid
        else rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      }
    }
  }

  def pqProfileWith(corpus: DataFrame, n: Long): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val emb = corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    pqPresent(pqEncode(emb, pqTrain(emb, n)))
  }

  private def pqPresent(
      enc: org.apache.spark.sql.Dataset[(Long, Array[Float], Array[Int], scala.math.BigDecimal)])
      : DataFrame = {
    val spark = enc.sparkSession
    import spark.implicits._
    enc.map { case (id, _, code, recon) =>
        (id, code.mkString("-"),
          recon.setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toDF("vec_id", "code", "recon_err")
      .orderBy("vec_id")
  }

  /** One subspace's CTE chain for [[pqProfileSql]]: stride init over the
    * dim slice, one assign/update round (empty code cells keep their
    * init centroid, mirroring the engine), final assignment carrying
    * (vec_id, c, dist). */
  private def pqSubspaceSql(s: Int): String = {
    val lo = s * 8 + 1
    val hi = s * 8 + 8
    def assign(centCte: String, out: String, keepEmb: Boolean): String = {
      val embCol = if (keepEmb) "embedding, " else ""
      s"""$out AS MATERIALIZED (
        |  SELECT vec_id, ${embCol}c, dist FROM (
        |    SELECT vec_id, ${embCol}c, dist,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rn
        |    FROM (
        |      SELECT e.vec_id, ${if (keepEmb) "e.embedding, " else ""}cc.c,
        |        list_sum(list_transform(range($lo, ${hi + 1}),
        |          i -> CAST((CAST(e.embedding[i] AS DOUBLE) - cc.cent[i - $lo + 1])
        |                  * (CAST(e.embedding[i] AS DOUBLE) - cc.cent[i - $lo + 1])
        |                AS DECIMAL(26,12)))) AS dist
        |      FROM embeddings e CROSS JOIN $centCte cc) t0) t1
        |  WHERE rn = 1)""".stripMargin
    }
    s"""pq_c0_$s AS MATERIALIZED (
      |  SELECT CAST(vec_id // stride AS INTEGER) AS c,
      |    list_transform(embedding[$lo:$hi], x -> CAST(x AS DOUBLE)) AS cent
      |  FROM embeddings, pq_p
      |  WHERE vec_id % stride = 0 AND vec_id // stride < 16
      |),
      |${assign(s"pq_c0_$s", s"pq_a1_$s", keepEmb = true)},
      |pq_m1_$s AS MATERIALIZED (
      |  SELECT c, t,
      |    CAST(ROUND(SUM(CAST(CAST(embedding[$lo - 1 + t] AS DOUBLE) AS DECIMAL(26,12))), 6)
      |         AS DOUBLE) / COUNT(*) AS mv
      |  FROM pq_a1_$s, range(1, 9) r(t)
      |  GROUP BY c, t
      |), pq_c1_$s AS MATERIALIZED (
      |  SELECT c, list(mv ORDER BY t) AS cent FROM pq_m1_$s GROUP BY c
      |  UNION ALL
      |  SELECT c, cent FROM pq_c0_$s WHERE c NOT IN (SELECT c FROM pq_m1_$s)
      |),
      |${assign(s"pq_c1_$s", s"pq_a2_$s", keepEmb = false)}""".stripMargin
  }

  /** The shared PQ WITH-body: stride CTE + all eight subspace chains
    * (ending in pq_a2_s = per-vector code + subspace distance, pq_c1_s =
    * final codebooks). */
  private def pqCtesSql: String =
    s"""pq_p AS (SELECT GREATEST(1, COUNT(*) // 16) AS stride FROM embeddings),
      |${(0 until 8).map(pqSubspaceSql).mkString(",\n")}""".stripMargin

  val pqProfileSql: String = {
    val joins = (0 until 8)
      .map(s => s"JOIN pq_a2_$s a$s ON a$s.vec_id = e.vec_id").mkString("\n")
    val code = (0 until 8)
      .map(s => s"CAST(a$s.c AS VARCHAR)").mkString(" || '-' || ")
    val recon = (0 until 8).map(s => s"a$s.dist").mkString(" + ")
    s"""WITH $pqCtesSql
      |SELECT e.vec_id, $code AS code,
      |  CAST(ROUND($recon, 6) AS DOUBLE) AS recon_err
      |FROM embeddings e
      |$joins
      |ORDER BY e.vec_id""".stripMargin
  }

  /** PQ asymmetric-distance ANN (`q_vec_ann_pq`) — the search loop PQ
    * exists for (the "PQ" half of IVF-PQ, the production billion-vector
    * recipe): per query, precompute a 16-entry lookup table per subspace
    * (exact squared distance from the query's subvector to each
    * codebook centroid), then score every CODE — 8 table lookups and an
    * add per vector, never touching the original floats. 64-dim float
    * scans become 8-byte code scans; at 100 TB the coded corpus is 32×
    * smaller than the raw one and the LUTs (m×ksub decimals per query)
    * broadcast. Approximate by construction — recall vs the exact
    * scan is measured in VectorSpec, and the ADC arithmetic itself is
    * oracle-checked cell-exact (exact-decimal LUTs, exact sums, ties on
    * vec_id). NB the fixture's random vectors are PQ's WORST case
    * (distances concentrate; no manifold structure for the codebooks to
    * exploit), so absolute recall here is low — the spec asserts a wide
    * multiple of the random baseline, not production recall; real
    * embeddings would also get the standard ADC-shortlist →
    * exact-re-rank second stage. */
  def annPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val corpus = Tables.embeddings(spark, sfDir)
    val n = corpusCount.get((spark, sfDir, false))(corpus.count())
    val emb = corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val books = pqModelMemo.get((spark, sfDir))(pqTrain(emb, n))
    val queries = emb.filter(_._1 < 5).collect().sortBy(_._1)
    // per-query LUTs: lut(q)(s)(c) = exact decimal ||query_s - cent_s_c||²
    val luts = queries.map { case (qid, qe) =>
      (qid, Array.tabulate(PqM)(s => books(s).map(c => pqDistDec(qe, s, c))))
    }
    val bc = spark.sparkContext.broadcast(luts)
    pqEncode(emb, books)
      .flatMap { case (id, _, code, _) =>
        bc.value.collect { case (qid, lut) if qid != id =>
          var adc = java.math.BigDecimal.ZERO
          var s = 0
          while (s < PqM) { adc = adc.add(lut(s)(code(s))); s += 1 }
          (qid, id, new scala.math.BigDecimal(adc))
        }
      }
      .toDF("qid", "vec_id", "adc")
      // Bounded-heap top-k, not a row_number window: pure ADC scores
      // every vector per query, and the window form would shuffle all
      // N·Q scored rows into |Q| reducer partitions — the exact
      // unbounded-reducer shape knnBrute eliminated in r9. Same
      // negate-and-cast trick as searchIvfPqIndex (decimal→double is
      // monotonic; see the tie-collapse envelope note there).
      .groupBy(col("qid"))
      .agg(graft.plans.TopKAgg.topK(negate(col("adc")).cast("double"),
        col("vec_id"), 10).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("qid"), (col("i") + 1).as("rn"), col("p.id").as("vec_id"),
        round(negate(col("p.ord")), 6).cast("double").as("adc"))
      .orderBy("qid", "rn")
  }

  /** Per-query LUT CTEs (exact-decimal subvector-to-centroid distances)
    * — shared by [[annPqSql]] and [[annIvfPqSql]]. */
  private def pqLutCtesSql: String = (0 until 8).map { s =>
    val lo = s * 8 + 1
    val hi = s * 8 + 8
    s"""pq_lut_$s AS MATERIALIZED (
      |  SELECT q.vec_id AS qid, cc.c,
      |    list_sum(list_transform(range($lo, ${hi + 1}),
      |      i -> CAST((CAST(q.embedding[i] AS DOUBLE) - cc.cent[i - $lo + 1])
      |              * (CAST(q.embedding[i] AS DOUBLE) - cc.cent[i - $lo + 1])
      |            AS DECIMAL(26,12)))) AS d
      |  FROM embeddings q CROSS JOIN pq_c1_$s cc
      |  WHERE q.vec_id < 5
      |)""".stripMargin
  }.mkString(",\n")

  /** The 8 code joins + 8 LUT joins + the ADC sum expression. `qidAnchor`
    * is what l0's qid must equal: empty when the LUTs INTRODUCE the
    * query axis (pure ADC scans every query × vector), or the candidate
    * set's qid column when candidates already carry it (IVF-PQ). */
  private def pqAdcJoinsSql(candSide: String, qidAnchor: String): (String, String, String) = {
    val codeJoins = (0 until 8)
      .map(s => s"JOIN pq_a2_$s a$s ON a$s.vec_id = $candSide").mkString("\n")
    val lutJoins = (0 until 8)
      .map { s =>
        val base = s"JOIN pq_lut_$s l$s ON l$s.c = a$s.c"
        val qc =
          if (s == 0) { if (qidAnchor.isEmpty) "" else s" AND l0.qid = $qidAnchor" }
          else s" AND l$s.qid = l0.qid"
        base + qc
      }
      .mkString("\n")
    val adc = (0 until 8).map(s => s"l$s.d").mkString(" + ")
    (codeJoins, lutJoins, adc)
  }

  val annPqSql: String = {
    val (codeJoins0, lutJoins, adc) = pqAdcJoinsSql("a0.vec_id", qidAnchor = "")
    // the a0 relation is the FROM side, so drop its self-join
    val codeJoins = codeJoins0.linesIterator.drop(1).mkString("\n")
    s"""WITH $pqCtesSql,
      |$pqLutCtesSql,
      |pq_scored AS (
      |  SELECT l0.qid, a0.vec_id, $adc AS adc
      |  FROM pq_a2_0 a0
      |$codeJoins
      |$lutJoins
      |  WHERE a0.vec_id <> l0.qid
      |)
      |SELECT qid, rn, vec_id, CAST(ROUND(adc, 6) AS DOUBLE) AS adc
      |FROM (
      |  SELECT qid, vec_id, adc,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rn
      |  FROM pq_scored)
      |WHERE rn <= 10
      |ORDER BY qid, rn""".stripMargin
  }

  /** IVF-PQ (`q_vec_ann_ivf_pq`) — the two index halves composed into
    * the production billion-vector shape: IVF cells prune the corpus to
    * the nprobe-cell candidate set ([[ivfCandidates]], broadcast probe,
    * no shuffle), and PQ codes + per-query LUTs score those candidates
    * without touching the stored floats ([[annPq]]'s ADC). At 100 TB the
    * scan reads 8-byte codes from only the probed cell partitions —
    * both reductions at once. Approximation compounds (cell recall ×
    * ADC ranking quality); the spec measures it against brute force,
    * and the LUT arithmetic stays oracle-exact. */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val corpus = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val n = corpusCount.get((spark, sfDir, false))(corpus.count())
    val emb = corpus.as[(Long, Array[Float])]
    val books = pqModelMemo.get((spark, sfDir))(pqTrain(emb, n))
    val coded = pqEncode(emb, books)
      .map { case (id, _, code, _) => (id, code) }.toDF("vec_id", "code")
    val queries = emb.filter(_._1 < 5).collect().sortBy(_._1)
    val luts = queries.map { case (qid, qe) =>
      (qid, Array.tabulate(PqM)(s => books(s).map(c => pqDistDec(qe, s, c))))
    }.toMap
    val bc = spark.sparkContext.broadcast(luts)
    ivfCandidates(corpus, ivfGeometry(n))
      .select(col("qid"), col("vec_id"))
      .join(coded, "vec_id")
      .as[(Long, Long, Array[Int])]
      .map { case (vid, qid, code) =>
        val lut = bc.value(qid)
        var adc = java.math.BigDecimal.ZERO
        var s = 0
        while (s < PqM) { adc = adc.add(lut(s)(code(s))); s += 1 }
        (qid, vid, new scala.math.BigDecimal(adc))
      }
      .toDF("qid", "vec_id", "adc")
      // Bounded-heap top-k, not a row_number window: pure ADC scores
      // every vector per query, and the window form would shuffle all
      // N·Q scored rows into |Q| reducer partitions — the exact
      // unbounded-reducer shape knnBrute eliminated in r9. Same
      // negate-and-cast trick as searchIvfPqIndex (decimal→double is
      // monotonic; see the tie-collapse envelope note there).
      .groupBy(col("qid"))
      .agg(graft.plans.TopKAgg.topK(negate(col("adc")).cast("double"),
        col("vec_id"), 10).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("qid"), (col("i") + 1).as("rn"), col("p.id").as("vec_id"),
        round(negate(col("p.ord")), 6).cast("double").as("adc"))
      .orderBy("qid", "rn")
  }

  val annIvfPqSql: String = {
    val (codeJoins, lutJoins, adc) = pqAdcJoinsSql("c.vec_id", qidAnchor = "c.qid")
    s"""WITH $ivfCandSql,
      |$pqCtesSql,
      |$pqLutCtesSql,
      |ivfpq_scored AS (
      |  SELECT c.qid, c.vec_id, $adc AS adc
      |  FROM cand c
      |$codeJoins
      |$lutJoins
      |)
      |SELECT qid, rn, vec_id, CAST(ROUND(adc, 6) AS DOUBLE) AS adc
      |FROM (
      |  SELECT qid, vec_id, adc,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rn
      |  FROM ivfpq_scored)
      |WHERE rn <= 10
      |ORDER BY qid, rn""".stripMargin
  }

  // ------------------------------------------------- persisted IVF-PQ index

  /** The PQ-coded persisted IVF index — the layout a 100 TB deployment
    * actually stores: per probed cell the search reads 8 CODE BYTES per
    * vector instead of 256 float bytes (the raw-float [[buildIvfIndex]]
    * is the labeled exact variant beside it). Layout:
    *
    *   indexDir/codebook/                 m×ksub rows (s, c, cent[8]) — ~4 KB
    *   indexDir/codes/d<epoch>-<n>/list_id=L/  (vec_id, code[8]) per cell
    *   indexDir/codes/_manifests/m<G>.json     snapshot commits
    *
    * Codes live in a snapshot-isolated [[graft.core.EpochManifest]]
    * store: epoch 0 is the base build, [[graft.streaming.Jobs
    * .ivfPqIngest]] appends one immutable epoch dir per micro-batch and
    * commits it with an atomic manifest rename (a retried epoch commits
    * a REPLACEMENT entry — still exactly-once), and [[graft.streaming
    * .Jobs.compactIvfPqIndex]] folds committed epochs as a single
    * manifest swap, so the file count stays bounded on a long stream
    * while concurrent searches keep the snapshot they opened. `list_id`
    * stays a partition column in EVERY data dir, so a probe's candidate
    * read is a directory-level prune regardless of how many epochs
    * exist.
    *
    * The model (coarse quantizer + codebooks) is fixed at build time —
    * the standard IVF contract; re-training means re-building. */
  def buildIvfPqIndex(corpus: DataFrame, geo: IvfGeometry, indexDir: String)
      : (IvfAssigner, Array[Array[Array[Double]]]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val emb = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    val assigner = ivfModel(corpus, geo)
    val books = pqTrain(emb, emb.count())
    val bkRows = for (s <- 0 until PqM; c <- books(s).indices)
      yield (s, c, books(s)(c).toSeq)
    bkRows.toDF("s", "c", "cent").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/codebook")
    appendIvfPqCodes(corpus, assigner, books, indexDir, epoch = 0L)
    (assigner, books)
  }

  /** The codes store root under an index dir — a snapshot-isolated
    * [[graft.core.EpochManifest]] store (immutable data dirs + atomic
    * manifest commits), so a compaction never disturbs a running search. */
  def codesRoot(indexDir: String): String = s"$indexDir/codes"

  /** The stored code row shape — explicit so manifest reads never need
    * schema inference (a committed-but-empty epoch has no files to
    * infer from). */
  val codesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, containsNull = false)),
      org.apache.spark.sql.types.StructField("list_id",
        org.apache.spark.sql.types.LongType)))

  /** Encode a batch against the fixed model and land it as one code
    * epoch: write an immutable attempt dir, then commit a manifest that
    * makes it visible — replacing any previous entry for the same epoch,
    * so a retried epoch is still exactly-once, and the swap is atomic
    * under concurrent searches (the old attempt dir survives until the
    * next compaction's gc). Assignment + encoding are one narrow map
    * with both models broadcast; the only wide step is the partitioned
    * write. */
  def appendIvfPqCodes(batch: DataFrame, assigner: IvfAssigner,
      books: Array[Array[Array[Double]]], indexDir: String, epoch: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    import graft.core.EpochManifest
    val bcA = spark.sparkContext.broadcast(assigner)
    EpochManifest.append(
      pqEncode(batch.select(col("vec_id").cast("long"), col("embedding"))
          .as[(Long, Array[Float])], books)
        .map { case (id, e, code, _) => (id, code, bcA.value.assign(e)) }
        .toDF("vec_id", "code", "list_id"),
      codesRoot(indexDir), epoch, partitionBy = Seq("list_id"))
  }

  /** Rebuild the codebook model from its persisted form (deterministic
    * ~4 KB artifact — a driver-side read, broadcast by the searcher). */
  def readPqCodebook(spark: SparkSession, indexDir: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$indexDir/codebook")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    // cell count from the stored artifact, not the PqK constant — a
    // codebook trained on a sub-16-vector corpus has fewer cells
    val k = rows.keys.map(_._2).max + 1
    Array.tabulate(PqM)(s => Array.tabulate(k)(c => rows((s, c))))
  }

  /** Search the persisted PQ-coded index: probe cells computed
    * driver-side from the broadcast-scale coarse model, per-query exact-
    * decimal LUTs from the stored codebook, candidate read pruned to the
    * probed `list_id` partitions (every epoch dir is partitioned the
    * same way), ADC scoring over codes only — the floats are never read.
    * Ranks identically to the in-memory [[annIvfPq]] over the same
    * corpus (VectorSpec proves cell-exact equality). `maxEpoch` bounds
    * the read to committed epochs, mirroring [[graft.queries.TextCatalog
    * .dedupAgainstIndex]]'s retry discipline.
    *
    * The read resolves the store's manifest snapshot
    * ([[graft.core.EpochManifest.read]]): the search plan holds exactly
    * the immutable dirs one manifest names, so a compaction committing
    * mid-search swaps the NEXT reader's view without disturbing this
    * one (VectorSpec proves a pinned search through a concurrent
    * compaction; snapshots older than one compaction must reopen). */
  def searchIvfPqIndex(spark: SparkSession, indexDir: String, assigner: IvfAssigner,
                       queries: Seq[(Long, Array[Float])], nprobe: Int,
                       k: Int = 10, maxEpoch: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val books = readPqCodebook(spark, indexDir)
    val luts = queries.map { case (qid, qe) =>
      (qid, Array.tabulate(PqM)(s => books(s).map(c => pqDistDec(qe, s, c))))
    }.toMap
    val probes = queries.flatMap { case (qid, qe) =>
      assigner.probe(qe, nprobe).map(l => (qid, l)) }
    val touched = probes.map(_._2).distinct.sorted
    val probeDf = probes.toDF("qid", "probe")
    val bc = spark.sparkContext.broadcast(luts)
    // r13: the probe reads through the DSv2 connector — the pinned
    // EpochStoreScan pushes the probed-cell In() as an EXACT partition
    // filter, so the plan lists only the probed list_id dirs (VectorSpec
    // asserts selectedPartitionDirs == probed cells × epochs)
    graft.sources.EpochStore.read(spark, codesRoot(indexDir), codesSchema,
        "list_id", maxEpoch)
      .filter(col("list_id").isin(touched: _*))
      .join(broadcast(probeDf),
        col("probe") === col("list_id") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("code"))
      .as[(Long, Long, Seq[Int])]
      .map { case (qid, vid, code) =>
        val lut = bc.value(qid)
        var adc = java.math.BigDecimal.ZERO
        var s = 0
        while (s < PqM) { adc = adc.add(lut(s)(code(s))); s += 1 }
        (qid, vid, new scala.math.BigDecimal(adc))
      }
      .toDF("qid", "vec_id", "adc")
      // Bounded-heap top-k keyed on qid (same shape as knnBrute), not a
      // row_number window: candidates are already nprobe-cell-bounded, but
      // the heap keeps the catalog uniformly map-side-partial — the
      // exchange carries ≤ k×|Q| rows per partition at any corpus size.
      // TopKAgg ranks (ord DESC, id ASC); ADC ranks ascending, so the heap
      // sees -adc. decimal→double is MONOTONIC (no rank inversions) but
      // not injective: two ADC values closer than a double ULP collapse
      // to a tie and break by vec_id. At this codebook's scale-12 LUTs
      // that needs ADC magnitudes ≳ 2^12 (double ULP > 1e-12) — far
      // above anything near-unit embeddings produce — so parity with the
      // decimal-ordered annIvfPq holds across the operating envelope
      // (VectorSpec asserts it cell-exact); corpora with unnormalized
      // 1e4-magnitude distances would need the decimal kept as the
      // ranking key.
      .groupBy(col("qid"))
      .agg(graft.plans.TopKAgg.topK(negate(col("adc")).cast("double"),
        col("vec_id"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("qid"), (col("i") + 1).as("rn"), col("p.id").as("vec_id"),
        round(negate(col("p.ord")), 6).cast("double").as("adc"))
      .orderBy("qid", "rn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_vec_neardup"   -> (vecNearDup _),
    "q_vec_norms"     -> (vecNorms _),
    "q_vec_quantize"  -> (vecQuantize _),
    "q_vec_knn_brute" -> (knnBrute _),
    "q_vec_ann_grouped" -> (annGrouped _),
    "q_vec_centroids" -> (labelCentroids _),
    "q_vec_ann_lsh"   -> (annLsh _),
    "q_vec_ann_ivf"   -> (annIvf _),
    "q_vec_ann_q8"    -> (annIvfQ8 _),
    "q_vec_kmeans"    -> (kmeans _),
    "q_vec_semdedup"  -> (semDedup _),
    "q_vec_decontam"  -> (vecDecontam _),
    "q_vec_pq"        -> (pqProfile _),
    "q_vec_ann_pq"    -> (annPq _),
    "q_vec_ann_ivf_pq" -> (annIvfPq _)
  )

  val oracle: Map[String, String] = Map(
    "q_vec_norms"     -> vecNormsSql,
    "q_vec_quantize"  -> vecQuantizeSql,
    "q_vec_knn_brute" -> knnBruteSql,
    "q_vec_ann_grouped" -> annGroupedSql,
    "q_vec_centroids" -> labelCentroidsSql,
    "q_vec_ann_lsh"   -> annLshSql,
    "q_vec_neardup"   -> vecNearDupSql,
    "q_vec_ann_ivf"   -> annIvfSql,
    "q_vec_ann_q8"    -> annIvfQ8Sql,
    "q_vec_kmeans"    -> kmeansSql,
    "q_vec_semdedup"  -> semDedupSql,
    "q_vec_decontam"  -> vecDecontamSql,
    "q_vec_pq"        -> pqProfileSql,
    "q_vec_ann_pq"    -> annPqSql,
    "q_vec_ann_ivf_pq" -> annIvfPqSql
  )
}

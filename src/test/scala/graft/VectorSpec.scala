package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps._
import graft.queries.VectorCatalog

class VectorSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity, orthogonality, scale invariance") {
    val df = Seq(
      (Seq(1f, 0f, 0f), Seq(1f, 0f, 0f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)),
      (Seq(1f, 2f, 2f), Seq(2f, 4f, 4f))).toDF("a", "b")
      .select(cosine(col("a"), col("b")).as("c"))
    val c = df.collect().map(_.getDouble(0))
    assert(c(0) == 1.0)
    assert(c(1) == 0.0)
    assert(math.abs(c(2) - 1.0) < 1e-9)
  }

  test("dot product is repartition-invariant (decimal chain)") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), dotDec(col("embedding"), col("embedding")).as("d"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId(e) == byId(e.repartition(7)))
  }

  test("cosineDecJvm is bit-identical to the decimal cosine column") {
    val rows = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val pairs = rows.take(20).flatMap(a => rows.slice(100, 120).map(b => (a, b)))
    val colVals = pairs.toSeq.map { case ((_, a), (_, b)) => (a.toSeq, b.toSeq) }
      .toDF("a", "b")
      .select(cosine(col("a"), col("b")).as("c"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    pairs.zip(colVals).foreach { case (((ia, a), (ib, b)), cv) =>
      val jv = cosineDecJvm(a, b)
      assert(jv == cv, s"JVM $jv != column $cv for ($ia, $ib)") // EXACT, not approx
    }
  }

  test("brute-force knn: self excluded, ranks contiguous, cosine descending") {
    val r = VectorCatalog.knnBrute(spark, sf0001).collect()
    val byQ = r.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).toSeq.sorted == (1 to 10))
      assert(rows.forall(_.getLong(2) != q))
      val cs = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("embedding near-dup: LSH pairs are a high-recall subset of brute-force >=0.95 pairs") {
    // truth over the SAME planted corpus the query uses — and it must be
    // non-empty, or the recall check (and the whole query) is vacuous
    val e = VectorCatalog.nearDupCorpus(spark, sf0001)
    val truth = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .filter(col("c") >= 0.95)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "brute-force truth set is empty — the fixture no longer plants near-dups")
    val lsh = VectorCatalog.vecNearDup(spark, sf0001)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(truth)) // no false positives (exact verify step)
    assert(lsh.size.toDouble / truth.size >= 0.5, s"recall ${lsh.size}/${truth.size}")
  }

  test("LSH ANN recall@10 >= 0.5 vs brute force") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(VectorCatalog.knnBrute(spark, sf0001))
    val ann = pairs(VectorCatalog.annLsh(spark, sf0001))
    val recall = (truth & ann).size.toDouble / truth.size
    assert(recall >= 0.5, s"recall@10 = $recall")
  }

  test("LSH geometry: bits grow log2 with corpus size and clamp at both ends") {
    assert(lshGeometry(50).bits == 2)               // tiny corpus → minBits floor
    assert(lshGeometry(32L * 1024).bits == 10)      // 32Ki / 32-per-bucket
    assert(lshGeometry(32L << 20).bits == 20)       // 33M vectors
    assert(lshGeometry(Long.MaxValue / 2).bits == 32) // maxBits ceiling
    assert(lshGeometry(1000, targetBucket = 8).maxBucket == 8 * 64)
  }

  test("ANN recall@10 >= 0.5 at two derived geometries") {
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = corpus.count()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(VectorCatalog.knnBrute(spark, sf0001))
    // target 32 → 4 bits; target 8 → 6 bits (the round-2-measured 0.64-
    // recall geometry). Tighter than that (7+ bits at N=500) drops below
    // 0.5 — the bucket-size/recall trade is real, which is exactly why
    // the geometry must follow the corpus instead of being hardcoded.
    for (target <- Seq(32L, 8L)) {
      val geo = lshGeometry(n, targetBucket = target)
      val recall = (truth & pairs(VectorCatalog.annLshWith(corpus, geo))).size.toDouble /
        truth.size
      assert(recall >= 0.5, s"recall@10 = $recall at geometry $geo")
    }
  }

  test("IVF geometry: sqrt-nlist sizing, long-division stride/nprobe, floors") {
    assert(ivfGeometry(1) == IvfGeometry(1, 1, 4))            // degenerate floor
    assert(ivfGeometry(500) == IvfGeometry(22, 22, 4))        // round(sqrt(500))=22
    assert(ivfGeometry(2000) == IvfGeometry(45, 44, 5))       // 2000/45=44; 45/8=5
    assert(ivfGeometry(1000000) == IvfGeometry(1000, 1000, 125))
  }

  test("IVF assignment: every vector lands in its argmax-cosine cell") {
    // independent truth: a from-scratch re-derivation over the collected
    // corpus with the same IEEE double ascending-index semantics —
    // validates the production plumbing (centroid collect, broadcast,
    // Dataset map, tie rules) against a second implementation
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val geo = ivfGeometry(corpus.count())
    val rows = corpus.as[(Long, Array[Float])].collect()
    def nrm(v: Array[Float]): Double =
      math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    val cents = rows.filter(_._1 % geo.stride == 0).sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
      if (nrm(a) == 0.0 || nrm(b) == 0.0) Double.NegativeInfinity else d / (nrm(a) * nrm(b))
    }
    val truth = rows.map { case (id, emb) =>
      id -> cents.map { case (cid, cv) => (cid, cos(emb, cv)) }
        .minBy { case (cid, c) => (-c, cid) }._1
    }.toMap
    val assigner = new IvfAssigner(cents)
    val got = rows.map { case (id, emb) => id -> assigner.assign(emb) }.toMap
    assert(got == truth)
    // and probing is a superset of assignment: a query's own cell is
    // always among its top-nprobe probes
    rows.take(20).foreach { case (id, emb) =>
      assert(assigner.probe(emb, geo.nprobe).contains(got(id)), s"vec $id")
    }
  }

  test("IVF ANN recall@10 >= 0.5 vs brute force; ranks well-formed") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(VectorCatalog.knnBrute(spark, sf0001))
    val r = VectorCatalog.annIvf(spark, sf0001).collect()
    r.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val rn = rows.map(_.getInt(1)).toSeq.sorted
      assert(rn == (1 to rn.max), s"ranks not contiguous for $q")
      assert(rows.forall(_.getLong(2) != q), s"self in results for $q")
    }
    val recall = (truth & r.map(x => (x.getLong(0), x.getLong(2))).toSet).size.toDouble /
      truth.size
    assert(recall >= 0.5, s"IVF recall@10 = $recall")
  }

  test("int8-quantized IVF scoring agrees with the exact scorer over the same candidates") {
    val exact = VectorCatalog.annIvf(spark, sf0001).collect()
    val quant = VectorCatalog.annIvfQ8(spark, sf0001).collect()
    val te = exact.map(r => (r.getLong(0), r.getLong(2))).toSet
    val tq = quant.map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = (te & tq).size.toDouble / te.size
    assert(overlap >= 0.9, s"top-10 rank agreement = $overlap")
    // and on pairs both scorers surfaced, the quantized cosine sits inside
    // the int8 error envelope (measured max ~0.002; the bound is a loose 5x)
    val ce = exact.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    quant.foreach { r =>
      ce.get((r.getLong(0), r.getLong(2))).foreach { c =>
        assert(math.abs(r.getDouble(3) - c) < 0.01,
          s"cos8 ${r.getDouble(3)} vs exact $c for (${r.getLong(0)}, ${r.getLong(2)})")
      }
    }
  }

  test("persisted IVF index: partition-pruned search equals the in-memory plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val geo = ivfGeometry(corpus.count())
    val assigner = VectorCatalog.buildIvfIndex(corpus, geo, s"$dir/index")
    val queries = corpus.filter(col("vec_id") < 5)
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val res = VectorCatalog.searchIvfIndex(spark, s"$dir/index", assigner,
      queries, geo.nprobe)
    // directory-level pruning proof on the scan node itself: partition
    // filters are populated and the scan selects exactly the probed
    // cells — a strict subset of the index (DataFrame.inputFiles can't
    // show this; it lists the base relation unpruned)
    val touched = queries.flatMap { case (_, qe) => assigner.probe(qe, geo.nprobe) }
      .distinct.toSet
    val scan = res.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no parquet scan in the search plan"))
    assert(scan.partitionFilters.nonEmpty, "scan has no partition filters")
    val allCells = graft.core.EpochManifest.read(spark, s"$dir/index",
        VectorCatalog.ivfIndexSchema)
      .select("list_id").distinct().count()
    assert(scan.selectedPartitions.partitionCount == touched.size,
      s"scan reads ${scan.selectedPartitions.partitionCount} cells, probed ${touched.size}")
    assert(touched.size < allCells, "no pruning — every cell was probed")
    // and the pruned search ranks identically to the in-memory plan
    val a = res.collect().map(_.toSeq).toSeq
    val b = VectorCatalog.annIvf(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("persisted PQ-coded IVF index: code-only search equals the in-memory IVF-PQ plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val geo = ivfGeometry(corpus.count())
    val (assigner, _) = VectorCatalog.buildIvfPqIndex(corpus, geo, s"$dir/index")
    val queries = corpus.filter(col("vec_id") < 5)
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val res = VectorCatalog.searchIvfPqIndex(spark, s"$dir/index", assigner,
      queries, geo.nprobe)
    // r13: the probe reads through the DSv2 CONNECTOR — one pinned
    // EpochStoreScan whose schema carries only (vec_id, code) +
    // partition cols (the floats are never read) and whose dir listing
    // is probed-cells-only (the pushed In() prunes exactly)
    val scan = res.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r.scan
    }.collectFirst { case s: graft.sources.EpochStoreScan => s }
      .getOrElse(fail("the search must read through EpochStoreScan"))
    assert(!scan.readSchema().fieldNames.contains("embedding"),
      s"code-only search read ${scan.readSchema().fieldNames.mkString(",")}")
    // directory-level pruning on list_id, as in the raw-float index
    val touched = queries.flatMap { case (_, qe) => assigner.probe(qe, geo.nprobe) }
      .distinct.toSet
    val (sel, tot) = scan.selectedPartitionDirs
    assert(sel == touched.size && tot > sel,
      s"scan lists $sel of $tot cells, probed ${touched.size}")
    // and code-only ADC ranking is cell-identical to the in-memory plan
    val a = res.collect().map(_.toSeq).toSeq
    val b = VectorCatalog.annIvfPq(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("streaming PQ-code append: exactly-once across restart, compaction preserves search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_stream").toString
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val geo = ivfGeometry(corpus.count())
    // fixed model from the base corpus (first 450 rows); the last 50 arrive
    // as two streamed batches against that model
    val base = corpus.filter(col("vec_id") < 450)
    val (assigner, books) = VectorCatalog.buildIvfPqIndex(base, geo, s"$dir/idx")
    val late = corpus.filter(col("vec_id") >= 450)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val in = MemoryStream[(Long, Array[Float])]
    def run(): Unit =
      graft.streaming.Jobs.ivfPqIngest(in.toDF().toDF("vec_id", "embedding"),
        assigner, books, s"$dir/idx", s"$dir/cp").awaitTermination(60000)
    // two AvailableNow runs over ONE checkpoint: the second must append
    // only the new rows (epoch-keyed overwrite exactly-once)
    in.addData(late.take(30).toIndexedSeq: _*)
    run()
    in.addData(late.drop(30).toIndexedSeq: _*)
    run()
    def codesDf(idx: String) = graft.core.EpochManifest.read(spark,
      VectorCatalog.codesRoot(idx), VectorCatalog.codesSchema)
    assert(codesDf(s"$dir/idx").count() == 500,
      "code rows duplicated or lost across the restart")
    // reference: the same 500 rows coded in one shot with the same model —
    // the streamed store must hold row-identical codes and cells
    val refDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_ref").toString
    VectorCatalog.appendIvfPqCodes(corpus, assigner, books, refDir, 0L)
    def rows(idx: String) = codesDf(idx)
      .select(col("vec_id"), col("code"), col("list_id").cast("long"))
      .as[(Long, Seq[Int], Long)].collect().sortBy(_._1).toSeq
    assert(rows(s"$dir/idx") == rows(refDir), "streamed codes drifted")
    val queries = corpus.filter(col("vec_id") < 5)
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    def search() = VectorCatalog.searchIvfPqIndex(spark, s"$dir/idx", assigner,
      queries, geo.nprobe).collect().map(_.toSeq).toSeq
    val pre = search()
    // codebook round-trips through its persisted form exactly
    val rb = VectorCatalog.readPqCodebook(spark, s"$dir/idx")
    assert(rb.flatten.flatten.toSeq == books.flatten.flatten.toSeq)
    // compact the three epochs (0 base + 2 streamed, all committed) into
    // one — results must be identical and the visible entry set bounded
    graft.streaming.Jobs.compactIvfPqIndex(spark, s"$dir/idx", uptoEpoch = 3L)
    val entries = graft.core.EpochManifest.entries(spark,
      VectorCatalog.codesRoot(s"$dir/idx"))
    assert(entries.map(_.epoch) == Seq(2L), s"entries after compaction: $entries")
    assert(search() == pre, "compaction changed search results")
    assert(codesDf(s"$dir/idx").count() == 500)
  }

  test("persisted IVF-PQ search snapshot survives a concurrent compaction; gc lags one cycle") {
    // The serving-index isolation property: a searcher that resolved its
    // snapshot just before a compaction commits must still read every
    // file it planned — the swap is a manifest commit, and gc() keeps
    // everything the PREVIOUS manifest names. One cycle later those dirs
    // are reclaimed (the documented isolation window).
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_snap").toString
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val geo = ivfGeometry(corpus.count())
    val base = corpus.filter(col("vec_id") < 450)
    val (assigner, books) = VectorCatalog.buildIvfPqIndex(base, geo, s"$dir/idx")
    VectorCatalog.appendIvfPqCodes(
      corpus.filter(col("vec_id") >= 450 && col("vec_id") < 475),
      assigner, books, s"$dir/idx", epoch = 1L)
    VectorCatalog.appendIvfPqCodes(corpus.filter(col("vec_id") >= 475),
      assigner, books, s"$dir/idx", epoch = 2L)
    val root = VectorCatalog.codesRoot(s"$dir/idx")
    val queries = corpus.filter(col("vec_id") < 5)
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    def searchDf() = VectorCatalog.searchIvfPqIndex(spark, s"$dir/idx", assigner,
      queries, geo.nprobe)
    val pre = searchDf().collect().map(_.toSeq).toSeq
    // pin a snapshot: the DataFrame resolves the CURRENT manifest (three
    // entries) and lists its files now; it executes only after the swap
    val pinned = searchDf()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val preDirs = graft.core.EpochManifest.entries(spark, root)
      .map(e => new org.apache.hadoop.fs.Path(s"$root/${e.dir}"))
    assert(preDirs.size == 3)
    graft.streaming.Jobs.compactIvfPqIndex(spark, s"$dir/idx", uptoEpoch = 3L)
    // the fold is live for NEW readers...
    assert(graft.core.EpochManifest.entries(spark, root).map(_.epoch) == Seq(2L))
    assert(searchDf().collect().map(_.toSeq).toSeq == pre)
    // ...and the pinned pre-compaction snapshot still reads its own dirs
    assert(preDirs.forall(fs.exists), "gc reclaimed dirs the previous manifest names")
    assert(pinned.collect().map(_.toSeq).toSeq == pre,
      "pinned snapshot diverged under concurrent compaction")
    // next cycle: one more epoch + compaction — NOW the old dirs go
    VectorCatalog.appendIvfPqCodes(
      corpus.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(2000L)),
      assigner, books, s"$dir/idx", epoch = 3L)
    graft.streaming.Jobs.compactIvfPqIndex(spark, s"$dir/idx", uptoEpoch = 4L)
    assert(preDirs.forall(p => !fs.exists(p)),
      "dirs two manifest generations old must be reclaimed")
    // the store remains exact: all 520 committed rows, no duplicates
    assert(graft.core.EpochManifest.read(spark, root,
      VectorCatalog.codesSchema).count() == 520)
  }

  test("kmeans: all clusters live, Lloyd inertia monotone, deterministic") {
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val n = corpus.count()
    def total(iters: Int): (Double, Map[Int, Long]) = {
      val rows = VectorCatalog.kmeansWith(corpus, n, k = 8, iters = iters).collect()
      (rows.map(_.getDouble(2)).sum, rows.map(r => r.getInt(0) -> r.getLong(1)).toMap)
    }
    val (i0, _) = total(0)
    val (i1, _) = total(1)
    val (i2, sizes) = total(2)
    // every cluster survives and the sizes cover the corpus
    assert(sizes.size == 8, s"dead cluster: ${sizes.keySet}")
    assert(sizes.values.sum == n)
    // Lloyd's algorithm never increases inertia (assignment and update
    // steps each minimize it; mean rounding at scale 6 is far below the
    // inertia deltas here)
    assert(i1 <= i0 + 1e-6, s"iter1 inertia $i1 > init $i0")
    assert(i2 <= i1 + 1e-6, s"iter2 inertia $i2 > iter1 $i1")
    // refinement does something: the init assignment is not already a
    // fixpoint on this corpus
    assert(i2 < i0, "two Lloyd rounds changed nothing — refinement vacuous")
    // hash-free determinism: same plan, same answer
    val again = VectorCatalog.kmeansWith(corpus, n, 8, 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val first = VectorCatalog.kmeansWith(corpus, n, 8, 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(again == first)
  }

  test("semDedup: pairs are exact >=0.95 truth subset with recall >= 0.8 vs LSH") {
    val sem = VectorCatalog.semDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorCatalog.vecNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.nonEmpty)
    // precision is exact by construction (decimal-verified >= 0.95), so
    // every semantic pair must also be a true pair the LSH baseline's
    // brute-force-verified set contains or brute force would confirm;
    // compare against the planted-duplicate ground truth via LSH's set
    val truth = {
      val e = VectorCatalog.nearDupCorpus(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
      (for {
        (v1, a) <- e.toSeq; (v2, b) <- e.toSeq if v1 < v2
        c <- graft.functions.VectorOps.cosineDecJvm(a, b) if c >= 0.95
      } yield (v1, v2)).toSet
    }
    assert(sem.subsetOf(truth), s"false positives: ${sem -- truth}")
    // cluster bucketing trades a little recall (pairs straddling a cell
    // boundary) for hashing-free buckets — it must stay >= 0.8 of truth
    assert(truth.nonEmpty && sem.size.toDouble / truth.size >= 0.8,
      s"semantic recall ${sem.size}/${truth.size}")
    assert(lsh.subsetOf(truth))
  }

  test("semDedup: oversized cells salt into bounded sub-cell groups with identical pairs") {
    // r18's shape collected an ENTIRE k-means cell into one aggregation
    // buffer — fine at the ~64/cell mean the k ∝ n sizing guarantees,
    // OOM under k-means skew. This gates the salted escape hatch: a
    // cell at ~2× the bound must produce the EXACT same pair set
    // through sub-cell triangle groups, each bounded.
    val dim = 16
    val bigCell = 2L * VectorCatalog.semDedupCellBound + 2
    def emb(id: Long): Array[Float] = {
      val r = (id % 50).toInt
      Array.tabulate(dim)(i =>
        (if (i == r % dim) 10f else 0f) + 0.001f * ((id * 13 + i) % 7))
    }
    val a = ((0L until bigCell).map(id => (id, emb(id), 0)) ++
      (900000L until 900040L).map(id => (id, emb(id), 1)))
      .toDF("vec_id", "embedding", "c")
    // the heavy-hitter scan flags exactly the oversized cell, with the
    // ceil split factor
    val s = math.ceil(bigCell.toDouble / VectorCatalog.semDedupCellBound).toInt
    assert(s == 3)
    assert(VectorCatalog.semDedupSplits(a) == Map(0 -> s))
    def pairs(splits: Map[Int, Int]) =
      VectorCatalog.semDedupPairs(a, splits).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val salted = pairs(Map(0 -> s))
    val plain = pairs(Map.empty)
    // exactly-once triangle coverage: same pairs, same scores, same
    // order — nothing dropped, nothing generated twice
    assert(salted.nonEmpty && salted == plain)
    assert(salted.size == salted.distinct.size)
    // the collected-group bound the salting exists for: no (c, gi, gj)
    // group holds more than two sub-cells' worth of members
    val subs = a.filter(col("c") === 0)
      .select(pmod(xxhash64(col("vec_id")), lit(s.toLong)).cast("int").as("g"))
      .groupBy("g").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxGroup = (for { i <- 0 until s; j <- i until s }
      yield if (i == j) subs(i) else subs(i) + subs(j)).max
    assert(maxGroup <= 2L * VectorCatalog.semDedupCellBound,
      s"triangle group of $maxGroup members exceeds 2×bound")
    // and the uncapped k sizing keeps the ~64/cell mean at ANY corpus
    // size (the r18 cap froze k at 128, letting cells grow as n/128)
    assert(VectorCatalog.semDedupK(1L << 20) == (1L << 20) / 64)
    assert(VectorCatalog.semDedupK(100L) == 8)
  }

  test("vecDecontam: exactly the planted eval copies flag, organic corpus stays clean") {
    val rows = VectorCatalog.vecDecontam(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // the perturbed copies of eval vectors 0-4 live at id + 1e6 and are
    // paraphrase-grade leaks (cos ≈ 0.995); nothing else in the fixture
    // comes near the 0.9 flag
    val flagged = rows.filter(_._4)
    assert(flagged.map(_._1).toSet == Set(1000000L, 1000001L, 1000002L, 1000003L, 1000004L))
    flagged.foreach { case (id, evalId, cos, _) =>
      assert(evalId == id - 1000000L, s"planted $id matched wrong eval $evalId")
      assert(cos > 0.99, s"planted $id cos $cos")
    }
    rows.filterNot(_._4).foreach { case (id, _, cos, _) =>
      assert(cos < 0.9, s"unflagged $id at $cos")
    }
    // eval rows themselves are excluded from the scored corpus
    assert(!rows.exists(_._1 < 5))
  }

  test("pq: codes in range, reconstruction informative, deterministic") {
    val rows = VectorCatalog.pqProfile(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // every code is 8 segments, each a valid codebook index
    rows.foreach { case (id, code, err) =>
      val segs = code.split("-")
      assert(segs.length == 8, s"vec $id code $code")
      segs.foreach(s => assert(s.toInt >= 0 && s.toInt < 16, s"vec $id code $code"))
      assert(err >= 0.0, s"vec $id negative recon $err")
    }
    // 8 bytes must carry real information: mean squared reconstruction
    // error clearly below the vectors' own mean squared norm (the
    // zero-code baseline, ~1.0 on this ~unit-norm corpus). Random
    // vectors are PQ's worst case — no manifold structure for the
    // codebooks to exploit — so ~0.6 (40% of the energy captured in
    // 8 bytes) is the honest bar here, not the ~0.1 real embeddings give
    val meanErr = rows.map(_._3).sum / rows.length
    assert(meanErr < 0.8, s"PQ reconstruction uninformative: mean err $meanErr")
    val again = VectorCatalog.pqProfile(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == again.toSeq)
  }

  test("pq: empty code cells keep their init centroid (fallback provably fires)") {
    import org.apache.spark.sql.functions.{col, lit}
    // 16 vectors, stride-1 init → 16 centroids, with vector 15 an EXACT
    // copy of vector 0: every assignment ties between centroids 0 and 15
    // and ties go to the lower code, so cell 15 is empty after round 1 —
    // the fallback branch runs in every subspace, deterministically
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 15)
    val dup = base.filter(col("vec_id") === 0)
      .select(lit(15L).as("vec_id"), col("embedding"))
    val rows = VectorCatalog.pqProfileWith(base.union(dup), 16).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.length == 16)
    // code 15 must never win (its centroid equals centroid 0 after the
    // fallback, and ties keep preferring 0)
    rows.foreach { case (id, code, _) =>
      code.split("-").foreach(s => assert(s.toInt != 15, s"vec $id used code 15"))
    }
    // the duplicate encodes identically to its original
    val byId = rows.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(15L) == byId(0L))
  }

  test("pq ADC: ranks carry real signal (recall far above random), deterministic") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val truth = pairs(VectorCatalog.knnBrute(spark, sf0001))
    val adc = pairs(VectorCatalog.annPq(spark, sf0001))
    val recalls = truth.keys.toSeq.sorted.map { q =>
      (adc(q) & truth(q)).size.toDouble / truth(q).size
    }
    val mean = recalls.sum / recalls.size
    // random 64-dim vectors are PQ's worst case (distances concentrate,
    // nothing for the codebooks to exploit): absolute recall is low by
    // construction, but 8-byte codes must still beat the random-top-10
    // baseline (10/500 = 0.02) by a wide multiple — measured ~0.18 ≈ 9×
    assert(mean >= 0.08, s"ADC recall $mean barely above random — codes carry no signal")
    val again = pairs(VectorCatalog.annPq(spark, sf0001))
    assert(adc == again)
  }

  test("ivf-pq: composed pruning+coding keeps ADC-level recall, deterministic") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val truth = pairs(VectorCatalog.knnBrute(spark, sf0001))
    val ivfpq = pairs(VectorCatalog.annIvfPq(spark, sf0001))
    val recalls = truth.keys.toSeq.sorted.map { q =>
      (ivfpq(q) & truth(q)).size.toDouble / truth(q).size
    }
    val mean = recalls.sum / recalls.size
    // compounded approximation (cell pruning × code ranking) must not
    // collapse below the pure-ADC floor: same wide-multiple-of-random
    // bar (10/500 baseline; measured ~0.2 on the worst-case random data)
    assert(mean >= 0.08, s"IVF-PQ recall $mean — composition destroyed the signal")
    val again = pairs(VectorCatalog.annIvfPq(spark, sf0001))
    assert(ivfpq == again)
  }

  test("clustered corpus: IVF and persisted IVF-PQ recall at fixed nprobe on planted Gaussians") {
    // The uniform-random fixture is the WORST case for vector indexes
    // (no structure to exploit — recall floors there are deliberately
    // loose). Real embedding corpora are clustered; this fixture plants
    // 16 tight Gaussian clusters (center ~N(0,1)^64, points = center +
    // 0.15σ noise → intra-cluster cos ≈ 0.98, inter ≈ 0) and holds the
    // SAME index paths to the recall that geometry actually affords.
    val rnd = new scala.util.Random(20260813L)
    val d = 64; val nClusters = 16; val perCluster = 25
    val centers = Array.fill(nClusters)(Array.fill(d)(rnd.nextGaussian()))
    val pts = for (c <- 0 until nClusters; _ <- 0 until perCluster)
      yield centers(c).map(x => (x + 0.15 * rnd.nextGaussian()).toFloat)
    // shuffle before assigning ids: stride-sampled IVF centroids and the
    // vec_id<5 query set must both cut across clusters, not follow them
    val all = rnd.shuffle(pts.toVector).zipWithIndex
      .map { case (emb, id) => (id.toLong, emb) }
    val n = all.size.toLong
    val corpus = all.map { case (id, e) => (id, e.toSeq) }.toDF("vec_id", "embedding")
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = all.filter(_._1 < 5).map { case (qid, qe) =>
      qid -> all.filter(_._1 != qid)
        .map { case (id, e) => (id, cosD(qe, e)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    }.toMap
    def recallOf(rows: Array[org.apache.spark.sql.Row], idAt: Int): Double = {
      val got = rows.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(idAt)).toSet }
      truth.keys.toSeq.sorted
        .map(q => (truth(q) & got.getOrElse(q, Set.empty)).size / 10.0)
        .sum / truth.size
    }
    val geo = ivfGeometry(n) // (20 cells, stride 20, nprobe 4)
    val ivfRecall = recallOf(VectorCatalog.annIvfWith(corpus, geo).collect(), 2)
    // tight clusters land whole in one Voronoi cell of the sampled
    // centroids, so probing nprobe=4 cells recovers essentially all true
    // neighbors — measured 1.0; the bar allows one stray neighbor per query
    assert(ivfRecall >= 0.9, s"clustered IVF recall@10 = $ivfRecall at nprobe=${geo.nprobe}")
    // persisted PQ-coded index on the same corpus, same fixed nprobe.
    // Measured 0.46 — and that number is INFORMATIVE: IVF pruning loses
    // nothing here (1.0 above), but a tight cluster's members share
    // near-identical PQ codes, so ADC ranking WITHIN the query's own
    // cluster is partially degenerate (code ties broken by vec_id, not
    // true distance). Still ~18x random (10/400 ≈ 0.025) and well above
    // the uniform fixture's ~0.2 ADC floor. The bar sits under the
    // measured value with headroom for codebook-seed drift; a real
    // regression (lost codes, wrong LUT, broken cell read) lands near
    // random and fails it by an order of magnitude.
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_clustered").toString
    val (assigner, _) = VectorCatalog.buildIvfPqIndex(corpus, geo, s"$dir/index")
    val qs = all.filter(_._1 < 5).sortBy(_._1)
    val pqRecall = recallOf(
      VectorCatalog.searchIvfPqIndex(spark, s"$dir/index", assigner, qs, geo.nprobe)
        .collect(), 2)
    assert(pqRecall >= 0.35, s"clustered IVF-PQ recall@10 = $pqRecall at nprobe=${geo.nprobe}")
    println(s"[clustered-recall] ivf=$ivfRecall ivfpq=$pqRecall")
  }

  test("grouped ANN: tenant isolation holds and per-tenant ranking matches brute force") {
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val labelOf = corpus.select(col("vec_id"), col("label").cast("int"))
      .as[(Long, Int)].collect().toMap
    val res = VectorCatalog.annGrouped(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    assert(res.nonEmpty)
    // isolation: every neighbor belongs to its row's tenant, and the
    // query id is the tenant's min vec_id
    res.foreach { case (label, qid, _, vid, _) =>
      assert(labelOf(vid) == label, s"tenant leak: vec $vid (label ${labelOf(vid)}) in tenant $label")
      assert(labelOf(qid) == label && vid != qid)
    }
    // per-tenant ranking equals a driver-side brute force over the tenant
    val all = corpus.select(col("vec_id"), col("embedding"), col("label").cast("int"))
      .as[(Long, Array[Float], Int)].collect()
    val byTenant = res.groupBy(_._1)
    byTenant.foreach { case (label, rows) =>
      val members = all.filter(_._3 == label)
      val qid = members.map(_._1).min
      val qe = members.find(_._1 == qid).get._2
      val truth = members.filter(_._1 != qid)
        .map { case (id, emb, _) =>
          (id, graft.functions.VectorOps.cosineDecJvm(qe, emb).getOrElse(Double.NaN)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
      assert(rows.sortBy(_._3).map(_._4).toSeq == truth,
        s"tenant $label ranking diverged from brute force")
    }
  }

  test("bucketize of an EMPTY corpus passes the guard (0 buckets, 0 rows, no spurious assert)") {
    // regression: the slim-aggregate guard's max over zero buckets is
    // NULL, and assert_true(NULL) throws — an empty frame must yield an
    // empty result, not a misleading "geometry too coarse" failure
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 0)
    assert(VectorCatalog.bucketize(corpus, lshGeometry(520)).count() == 0)
  }

  test("bucket-occupancy guard fails loudly on a deliberately coarse geometry") {
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // 1 table x 2 bits over the whole fixture → ~N/4 per bucket, far over
    // a maxBucket of 3: the in-plan assert_true must kill the job (and
    // thereby prove the optimizer did not prune the guard)
    val coarse = LshGeometry(tables = 1, bits = 2, maxBucket = 3)
    val ex = intercept[Exception] {
      VectorCatalog.annLshWith(corpus, coarse).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("LSH bucket exceeds")), s"wrong error: $ex")
  }
}

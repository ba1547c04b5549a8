package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.Filter

import graft.operators.{BruteForce, IndexBuild}
import graft.plans.{GraftExtensions, VectorIndexCatalog}

class IndexedVicinityRuleSpec extends SparkSpec {

  /** A session with the graft extensions on the shared context. */
  private lazy val extSpark: SparkSession = {
    TestSpark.spark // ensure context exists
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s
  }

  test("distance filter over an indexed table is rewritten to index probe + re-check") {
    val path = s"$sf0001/embeddings.parquet"
    val e = Tables.embeddings(extSpark, sf0001)
    val index = IndexBuild.buildIndex(e, "vec_id", "embedding").localCheckpoint()
    VectorIndexCatalog.register(path, "vec_id", index)
    // at 64-d this radius's L-inf box covers most leaves, so the cost
    // model would (correctly) skip; disable it here — this test asserts
    // SOUNDNESS of the rewrite itself, selectivity is covered below
    extSpark.conf.set("spark.graft.vicinity.maxSelectivity", "1.0")
    try {
      val q = BruteForce.rangeSearch(
        extSpark.read.parquet(path), "embedding",
        QueryConstants.Q64, QueryConstants.Radius)

      val optimized = q.queryExecution.optimizedPlan
      val hasInSet = optimized.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.nonEmpty
      assert(hasInSet, s"expected InSet rewrite in:\n$optimized")

      // candidate pruning is sound: same rows as the unindexed plan
      val got = q.select("vec_id").collect().map(_.getLong(0)).toSet
      VectorIndexCatalog.clear()
      val want = BruteForce.rangeSearch(
          extSpark.read.parquet(path), "embedding",
          QueryConstants.Q64, QueryConstants.Radius)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got == want)

      // box candidates are a sound superset (high-d + wide radius ⇒ the
      // L-inf box may cover everything — SURVEY §7.4; soundness is what
      // matters here, selectivity is asserted on the 2-D case below)
      val inSetSizes = optimized.collect {
        case f: Filter => f.condition.collect { case s: InSet => s.hset.size }
      }.flatten
      assert(inSetSizes.headOption.exists(sz => sz <= 500 && sz >= want.size))
    } finally {
      extSpark.conf.unset("spark.graft.vicinity.maxSelectivity")
      VectorIndexCatalog.clear()
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("low-dimensional probe is selective (grid, small radius)") {
    val dir = java.nio.file.Files.createTempDirectory("graftgrid").toString
    graft.sources.Ingest.grid(extSpark, 50).write.mode("overwrite").parquet(dir)
    val g = extSpark.read.parquet(dir)
    val index = IndexBuild.buildIndex(g, "id", "vector").localCheckpoint()
    VectorIndexCatalog.register(dir, "id", index, vecCol = "vector")
    try {
      val q = BruteForce.rangeSearch(g, "vector", Seq(0.1, 0.1), 0.05)
      val sizes = q.queryExecution.optimizedPlan.collect {
        case f: Filter => f.condition.collect { case s: InSet => s.hset.size }
      }.flatten
      assert(sizes.nonEmpty && sizes.head < 250,
        s"expected selective candidate set, got $sizes of 2500")
      val got = q.select("id").collect().map(_.getLong(0)).toSet
      VectorIndexCatalog.clear()
      val want = BruteForce.rangeSearch(g, "vector", Seq(0.1, 0.1), 0.05)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == want)
    } finally {
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("low-selectivity predicate above the candidate cap falls back to the plain scan") {
    val dir = java.nio.file.Files.createTempDirectory("graftgridcap").toString
    graft.sources.Ingest.grid(extSpark, 50).write.mode("overwrite").parquet(dir)
    val g = extSpark.read.parquet(dir)
    val index = IndexBuild.buildIndex(g, "id", "vector").localCheckpoint()
    VectorIndexCatalog.register(dir, "id", index, vecCol = "vector")
    extSpark.conf.set("spark.graft.vicinity.maxCandidates", "10")
    try {
      // radius 3 covers the whole [-1,1]² grid: candidates ≈ all 2500 rows,
      // far above the cap — the rewrite must be SKIPPED (no InSet literal
      // bloating the plan), and the plain exact predicate still answers
      val q = BruteForce.rangeSearch(g, "vector", Seq(0.1, 0.1), 3.0)
      val hasInSet = q.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.nonEmpty
      assert(!hasInSet, "expected cap fallback — no InSet rewrite")
      assert(q.count() == 2500)
      // and with a roomier cap the selective probe rewrites again
      extSpark.conf.set("spark.graft.vicinity.maxCandidates", "1000")
      val sel = BruteForce.rangeSearch(g, "vector", Seq(0.1, 0.1), 0.05)
      val selInSet = sel.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.nonEmpty
      assert(selInSet)
    } finally {
      extSpark.conf.unset("spark.graft.vicinity.maxCandidates")
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("near-full-scan candidate estimate skips the rewrite (cost model)") {
    val dir = java.nio.file.Files.createTempDirectory("graftgridsel").toString
    graft.sources.Ingest.grid(extSpark, 50).write.mode("overwrite").parquet(dir)
    val g = extSpark.read.parquet(dir)
    val index = IndexBuild.buildIndex(g, "id", "vector").localCheckpoint()
    VectorIndexCatalog.register(dir, "id", index, vecCol = "vector")
    try {
      // radius 1.9 on the [-1,1]² grid: the walked candidate set covers
      // nearly every leaf (under the absolute cap, but ≈ full scan) —
      // the cost model must SKIP the rewrite even though the cap allows
      // it, because an IN-set of ~all ids prunes nothing
      val q = BruteForce.rangeSearch(g, "vector", Seq(0.0, 0.0), 1.9)
      val hasInSet = q.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.nonEmpty
      assert(!hasInSet, "expected selectivity skip — no InSet rewrite")
      // no correctness change: the plain predicate answers exactly
      val got = q.select("id").collect().map(_.getLong(0)).toSet
      VectorIndexCatalog.clear()
      val want = BruteForce.rangeSearch(g, "vector", Seq(0.0, 0.0), 1.9)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == want && got.nonEmpty)
      // selectivity 1.0 disables the cost model: the same query rewrites
      VectorIndexCatalog.register(dir, "id", index, vecCol = "vector")
      extSpark.conf.set("spark.graft.vicinity.maxSelectivity", "1.0")
      val q2 = BruteForce.rangeSearch(g, "vector", Seq(0.0, 0.0), 1.9)
      assert(q2.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.nonEmpty, "maxSelectivity=1.0 must disable the skip")
    } finally {
      extSpark.conf.unset("spark.graft.vicinity.maxSelectivity")
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("store rewrite invalidates pins read from it — no stale-InSet answer") {
    import org.apache.spark.sql.functions.lit
    import extSpark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graftstale").toString
    val dataPath = s"$base/data.parquet"
    val storePath = s"$base/idxstore"
    // v1 data: a 30x30 grid; index persisted through the store
    graft.sources.Ingest.grid(extSpark, 30).write.parquet(dataPath)
    val d1 = extSpark.read.parquet(dataPath)
    graft.sources.IndexStore.replaceDocs(
      IndexBuild.buildIndex(d1, "id", "vector").withColumn("docId", lit(0L)),
      storePath)
    VectorIndexCatalog.register(dataPath, "id",
      graft.sources.IndexStore.load(extSpark, storePath), vecCol = "vector")
    try {
      val q1 = BruteForce.rangeSearch(extSpark.read.parquet(dataPath),
        "vector", Seq(0.1, 0.1), 0.05)
      assert(q1.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.nonEmpty, "expected the pinned rewrite before the mutation")

      // v2: append-style mutation — new data appended to the table, the
      // index REBUILT and the store REWRITTEN without re-registration
      val extra = Seq((90000L, Array(0.1f, 0.1f))).toDF("id", "vector")
      extra.write.mode("append").parquet(dataPath)
      val d2 = extSpark.read.parquet(dataPath)
      graft.sources.IndexStore.replaceDocs(
        IndexBuild.buildIndex(d2, "id", "vector").withColumn("docId", lit(0L)),
        storePath)

      // the stale pin is GONE: the query runs unrewritten and finds the
      // new point (a stale InSet would have wrongly excluded id 90000)
      val q2 = BruteForce.rangeSearch(extSpark.read.parquet(dataPath),
        "vector", Seq(0.1, 0.1), 0.05)
      assert(q2.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.isEmpty, "stale pin survived the store rewrite")
      val ids = q2.select("id").collect().map(_.getLong(0)).toSet
      assert(ids.contains(90000L), "mutated row missing from the answer")

      // re-registering the REWRITTEN store re-pins with fresh nodes
      VectorIndexCatalog.register(dataPath, "id",
        graft.sources.IndexStore.load(extSpark, storePath), vecCol = "vector")
      val q3 = BruteForce.rangeSearch(extSpark.read.parquet(dataPath),
        "vector", Seq(0.1, 0.1), 0.05)
      assert(q3.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.nonEmpty)
      assert(q3.select("id").collect().map(_.getLong(0)).toSet.contains(90000L))
    } finally {
      VectorIndexCatalog.clear()
      org.apache.spark.sql.SparkSession.setDefaultSession(TestSpark.spark)
      org.apache.spark.sql.SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("foldable null array element skips the rewrite instead of crashing") {
    val path = s"$sf0001/embeddings.parquet"
    val e = Tables.embeddings(extSpark, sf0001)
    val index = IndexBuild.buildIndex(e, "vec_id", "embedding").localCheckpoint()
    VectorIndexCatalog.register(path, "vec_id", index)
    try {
      import org.apache.spark.sql.functions.{array, col, lit, sqrt}
      import graft.functions.VectorFunctions.distSq
      val qArr = array((Seq.fill(63)(lit(0.0d)) :+
        lit(null).cast("double")): _*)
      // MatchError inside the optimizer rule would fail the whole query;
      // the rule must fall back to the unrewritten plan
      val out = extSpark.read.parquet(path)
        .filter(sqrt(distSq(col("embedding"), qArr)) <= lit(0.5d))
      assert(out.count() == 0) // null query vec matches nothing; no crash
    } finally {
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("SQL surface: vec_distsq / vec_dot / vec_stats resolve in spark.sql") {
    val path = s"$sf0001/embeddings.parquet"
    extSpark.read.parquet(path).createOrReplaceTempView("emb")
    try {
      val row = extSpark.sql(
        """SELECT vec_id,
          |  sqrt(vec_distsq(embedding, embedding)) AS d,
          |  vec_dot(embedding, embedding) AS n2
          |FROM emb ORDER BY vec_id LIMIT 1""".stripMargin).head()
      assert(row.getDouble(1) == 0.0d && row.getDouble(2) > 0.0d)
      val stats = extSpark.sql(
        """SELECT vs.cnt, size(vs.mean) AS d FROM (
          |  SELECT vec_stats(vec_id, embedding) AS vs FROM emb)""".stripMargin)
        .head()
      assert(stats.getLong(0) == 500L && stats.getInt(1) == 64)
      // kmv_sketch: exact below k (500 distinct ids, k=512 → n == est)
      val kmv = extSpark.sql(
        """SELECT s.n, s.estimate FROM (
          |  SELECT kmv_sketch(
          |    CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10)
          |      AS BIGINT) / 1152921504606846976.0, 512) AS s
          |  FROM emb)""".stripMargin).head()
      assert(kmv.getLong(0) == 500L && kmv.getDouble(1) == 500.0)
      // hll_sketch over the same portable hash: agrees with the Column
      // API aggregate bit-for-bit
      val hll = extSpark.sql(
        """SELECT s.v_zero, s.z_fix, s.estimate FROM (
          |  SELECT hll_sketch(
          |    CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10)
          |      AS BIGINT), 8) AS s
          |  FROM emb)""".stripMargin).head()
      val hllCol = extSpark.table("emb")
        .agg(graft.functions.HllSketch.hllDistinct(
          org.apache.spark.sql.functions.col("vec_id"), 8).as("s"))
        .selectExpr("s.v_zero", "s.z_fix", "s.estimate").head()
      assert(hll == hllCol)
      // cms_sketch + cms_merge: SQL counters == Column API counters,
      // and merging per-group cells recovers the direct sketch
      val cms = extSpark.sql(
        """SELECT s.n_total, s.counters FROM (
          |  SELECT cms_sketch(
          |    CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10)
          |      AS BIGINT), 4, 9) AS s
          |  FROM emb)""".stripMargin).head()
      val cmsCol = extSpark.table("emb")
        .agg(graft.functions.CmsSketch.cmsFreq(
          org.apache.spark.sql.functions.col("vec_id"), 4, 9).as("s"))
        .selectExpr("s.n_total", "s.counters").head()
      assert(cms == cmsCol)
      val cmsMerged = extSpark.sql(
        """SELECT m.n_total, m.counters FROM (
          |  SELECT cms_merge(s.counters, 4, 9) AS m FROM (
          |    SELECT vec_id % 4 AS g, cms_sketch(
          |      CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10)
          |        AS BIGINT), 4, 9) AS s
          |    FROM emb GROUP BY vec_id % 4))""".stripMargin).head()
      assert(cmsMerged == cms)
    } finally {
      extSpark.catalog.dropTempView("emb")
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("SQL surface: vec_hamming / shingles / phrase_count / vec_maxsim resolve") {
    try {
      val h = extSpark.sql(
        "SELECT vec_hamming(array(0L, -1L), array(0L, 0L)) AS h").head()
      assert(h.getInt(0) == 64)
      val sh = extSpark.sql(
        """SELECT shingles(split('a b c d', ' '), 3) AS sh""").head()
      assert(sh.getSeq[String](0) == Seq("a b c", "b c d"))
      val pc = extSpark.sql(
        """SELECT phrase_count(split('a b a b a', ' '), 'a b') AS c""").head()
      assert(pc.getInt(0) == 2)
      // maxsim of a vector against itself read as 2 chunks of 2:
      // each chunk's best match is itself -> sum of squared chunk norms
      val ms = extSpark.sql(
        """SELECT vec_maxsim(CAST(array(1.0, 0.0, 0.0, 2.0) AS ARRAY<DOUBLE>),
          |  CAST(array(1.0, 0.0, 0.0, 2.0) AS ARRAY<DOUBLE>), 2) AS m""".stripMargin)
        .head()
      assert(ms.getDouble(0) == 1.0 + 4.0)
    } finally {
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  // --- kNN pattern: ORDER BY dist LIMIT k --------------------------------

  test("kNN: ORDER BY dist LIMIT k over a serving-registered table rewrites and equals brute top-k") {
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorFunctions.{dist, doubleVec}
    val dir = java.nio.file.Files.createTempDirectory("graftknn").toString
    graft.sources.Ingest.grid(extSpark, 50).write.mode("overwrite").parquet(dir)
    val g = extSpark.read.parquet(dir)
    val index = IndexBuild.buildIndex(g, "id", "vector").localCheckpoint()
    VectorIndexCatalog.registerServing(dir, "id", index, g, vecCol = "vector")
    try {
      val q = Seq(0.1, 0.1)
      val knn = g.orderBy(dist(col("vector"), doubleVec(q)), col("id")).limit(10)
      val sizes = knn.queryExecution.optimizedPlan.collect {
        case f: Filter => f.condition.collect { case s: InSet => s.hset.size }
      }.flatten
      assert(sizes.nonEmpty && sizes.head >= 10 && sizes.head < 250,
        s"expected a selective kNN candidate set, got $sizes of 2500")
      val got = knn.select("id").collect().map(_.getLong(0)).toSeq
      VectorIndexCatalog.clear()
      val want = BruteForce.knn(g, "vector", "id", q, 10)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got == want, s"got $got want $want")
    } finally {
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("kNN: registerServing learns of null vectors from its one collect") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.VectorFunctions.{dist, doubleVec}
    val dir = java.nio.file.Files.createTempDirectory("graftknnnull").toString
    val grid = graft.sources.Ingest.grid(extSpark, 20)
    grid.unionByName(grid.limit(1).select(lit(90000L).as("id"),
        lit(null).cast(grid.schema("vector").dataType).as("vector")))
      .write.mode("overwrite").parquet(dir)
    val g = extSpark.read.parquet(dir)
    val index = IndexBuild.buildIndex(g.filter(col("vector").isNotNull), "id", "vector")
      .localCheckpoint()
    index.count()
    // one job pins the tree, one collects the points: no second scan
    // of the points for null vectors
    val (_, jobs) = jobsOf(
      VectorIndexCatalog.registerServing(dir, "id", index, g, vecCol = "vector"))
    try {
      assert(jobs == 2, s"registerServing ran $jobs jobs")
      assert(VectorIndexCatalog.lookup(dir).exists(_.hasNullVecs))
      val q = Seq(0.1, 0.1)
      def knn = g.orderBy(dist(col("vector"), doubleVec(q)), col("id")).limit(5)
      assert(knn.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.nonEmpty, "expected the kNN rewrite")
      val got = knn.select("id").collect().map(_.getLong(0)).toSeq
      VectorIndexCatalog.clear()
      val want = knn.select("id").collect().map(_.getLong(0)).toSeq
      assert(got.head == 90000L && got == want, s"got $got want $want")
    } finally {
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("kNN: SQL surface — ORDER BY vec_distsq LIMIT k fires and matches brute") {
    val path = s"$sf0001/embeddings.parquet"
    val e = Tables.embeddings(extSpark, sf0001)
    val index = IndexBuild.buildIndex(e, "vec_id", "embedding").localCheckpoint()
    VectorIndexCatalog.registerServing(path, "vec_id", index, e)
    // 64-d: the ball at d_k covers most leaves (distance concentration), so
    // the cost model would correctly skip — disable it: this asserts the
    // SQL-surface match + soundness; selectivity is the grid test's job
    extSpark.conf.set("spark.graft.vicinity.maxSelectivity", "1.0")
    extSpark.read.parquet(path).createOrReplaceTempView("emb_knn")
    try {
      val qArr = QueryConstants.Q64.mkString("array(", "D, ", "D)")
      val sql = s"""SELECT vec_id FROM emb_knn
                   |ORDER BY vec_distsq(embedding, $qArr), vec_id
                   |LIMIT 5""".stripMargin
      val knn = extSpark.sql(sql)
      assert(knn.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.nonEmpty, s"expected kNN InSet rewrite in:\n${knn.queryExecution.optimizedPlan}")
      val got = knn.collect().map(_.getLong(0)).toSeq
      VectorIndexCatalog.clear()
      val want = BruteForce.knn(extSpark.read.parquet(path), "embedding",
          "vec_id", QueryConstants.Q64, 5)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(got == want, s"got $got want $want")
    } finally {
      extSpark.conf.unset("spark.graft.vicinity.maxSelectivity")
      extSpark.catalog.dropTempView("emb_knn")
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("kNN: near-full-scan candidate set falls back to the plain sort") {
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorFunctions.{dist, doubleVec}
    val dir = java.nio.file.Files.createTempDirectory("graftknnsel").toString
    graft.sources.Ingest.grid(extSpark, 50).write.mode("overwrite").parquet(dir)
    val g = extSpark.read.parquet(dir)
    val index = IndexBuild.buildIndex(g, "id", "vector").localCheckpoint()
    VectorIndexCatalog.registerServing(dir, "id", index, g, vecCol = "vector")
    try {
      // k = 2000 of 2500: the ball at d_k covers ~the whole grid — the
      // cost model must skip (an InSet of ~all ids prunes nothing)
      val q = Seq(0.0, 0.0)
      val knn = g.orderBy(dist(col("vector"), doubleVec(q)), col("id")).limit(2000)
      assert(knn.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.isEmpty, "expected selectivity fallback — no InSet")
      assert(knn.count() == 2000)
    } finally {
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("kNN: vicinity-only registration (no pinned vectors) does not fire") {
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorFunctions.{dist, doubleVec}
    val dir = java.nio.file.Files.createTempDirectory("graftknnvic").toString
    graft.sources.Ingest.grid(extSpark, 50).write.mode("overwrite").parquet(dir)
    val g = extSpark.read.parquet(dir)
    val index = IndexBuild.buildIndex(g, "id", "vector").localCheckpoint()
    VectorIndexCatalog.register(dir, "id", index, vecCol = "vector")
    try {
      val knn = g.orderBy(dist(col("vector"), doubleVec(Seq(0.1, 0.1)))).limit(10)
      assert(knn.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.isEmpty, "kNN rewrite needs pinned vectors — must not fire on register()")
      assert(knn.count() == 10)
    } finally {
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("kNN: aliased distance column resolves through the project") {
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorFunctions.{dist, doubleVec}
    val dir = java.nio.file.Files.createTempDirectory("graftknnalias").toString
    graft.sources.Ingest.grid(extSpark, 50).write.mode("overwrite").parquet(dir)
    val g = extSpark.read.parquet(dir)
    val index = IndexBuild.buildIndex(g, "id", "vector").localCheckpoint()
    VectorIndexCatalog.registerServing(dir, "id", index, g, vecCol = "vector")
    try {
      val q = Seq(0.1, 0.1)
      val knn = g.withColumn("d", dist(col("vector"), doubleVec(q)))
        .orderBy(col("d"), col("id")).limit(10)
      assert(knn.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
      }.nonEmpty, s"expected rewrite through the dist alias in:\n${knn.queryExecution.optimizedPlan}")
      val got = knn.select("id").collect().map(_.getLong(0)).toSeq
      VectorIndexCatalog.clear()
      val want = BruteForce.knn(g, "vector", "id", q, 10)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got == want)
    } finally {
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("tables without a registered index are untouched") {
    VectorIndexCatalog.clear()
    val q = BruteForce.rangeSearch(
      extSpark.read.parquet(s"$sf0001/embeddings.parquet"), "embedding",
      QueryConstants.Q64, QueryConstants.Radius)
    val hasInSet = q.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
    }.nonEmpty
    assert(!hasInSet)
    SparkSession.setDefaultSession(TestSpark.spark)
    SparkSession.setActiveSession(TestSpark.spark)
  }

  private def inSets(df: org.apache.spark.sql.DataFrame): Seq[Filter] =
    df.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[InSet]) => f
    }

  test("a table appended after registration runs the exact predicate alone") {
    import extSpark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftappend").toString + "/grid"
    graft.sources.Ingest.grid(extSpark, 30).write.parquet(dir)
    val g = extSpark.read.parquet(dir)
    VectorIndexCatalog.register(dir, "id",
      IndexBuild.buildIndex(g, "id", "vector").localCheckpoint(), vecCol = "vector")
    try {
      assert(inSets(BruteForce.rangeSearch(extSpark.read.parquet(dir), "vector",
        Seq(0.1, 0.1), 0.05)).nonEmpty, "expected the pinned rewrite before the append")
      // one in-radius row with a fresh id; the index is neither rebuilt
      // nor re-registered
      Seq((90000L, Array(0.1f, 0.1f))).toDF("id", "vector")
        .write.mode("append").parquet(dir)
      val q = BruteForce.rangeSearch(extSpark.read.parquet(dir), "vector",
        Seq(0.1, 0.1), 0.05)
      val rewritten = inSets(q)
      val got = q.select("id").collect().map(_.getLong(0)).toSet
      VectorIndexCatalog.clear()
      val want = BruteForce.rangeSearch(extSpark.read.parquet(dir), "vector",
          Seq(0.1, 0.1), 0.05)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(want.contains(90000L) && got == want, s"got $got want $want")
      assert(rewritten.isEmpty, "the pin outlived the table it was registered with")
    } finally {
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("rewriting only the index store keeps a sound pin") {
    import org.apache.spark.sql.functions.lit
    val base = java.nio.file.Files.createTempDirectory("graftidxonly").toString
    val dataPath = s"$base/data.parquet"
    val storePath = s"$base/idxstore"
    graft.sources.Ingest.grid(extSpark, 30).write.parquet(dataPath)
    val d = extSpark.read.parquet(dataPath)
    def storeIndex(bucketSize: Int): Unit = graft.sources.IndexStore.replaceDocs(
      IndexBuild.buildIndex(d, "id", "vector", bucketSize).withColumn("docId", lit(0L)),
      storePath)
    storeIndex(1)
    VectorIndexCatalog.register(dataPath, "id",
      graft.sources.IndexStore.load(extSpark, storePath), vecCol = "vector")
    try {
      // the store is rewritten with a differently shaped tree over the
      // same rows; the data table is untouched
      storeIndex(4)
      val q = BruteForce.rangeSearch(extSpark.read.parquet(dataPath), "vector",
        Seq(0.1, 0.1), 0.05)
      assert(inSets(q).nonEmpty, "the data is unchanged, so the pin still prunes")
      val got = q.select("id").collect().map(_.getLong(0)).toSet
      VectorIndexCatalog.clear()
      val want = BruteForce.rangeSearch(extSpark.read.parquet(dataPath), "vector",
          Seq(0.1, 0.1), 0.05)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == want && got.nonEmpty, s"got $got want $want")
    } finally {
      VectorIndexCatalog.clear()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }
}

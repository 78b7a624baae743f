package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding similarity search (SURVEY §2.3 J7, §2.10 G4; plus the
  * LLM-pipeline ANN operators the 100 TB design point requires).
  *
  * Numeric contract: dot products fold left-to-right in double precision
  * (`aggregate` over `zip_with`), matching the DuckDB oracle's generated
  * left-associative 64-term sum bit-for-bit — so top-k ranking and
  * rounded similarity values are reproducible across engines.
  */
object Similarity {

  /** Exact double-precision dot product of two array columns (F10).
    * Backed by the custom codegen ArrayDotProduct expression — the
    * builtin aggregate(zip_with(·)) pipeline interprets two lambdas per
    * element and falls out of whole-stage codegen, which made brute-force
    * KNN the bench bottleneck. Summation order (left-to-right, double)
    * is identical, so results stay bitwise oracle-compatible. */
  def dot(a: Column, b: Column): Column =
    graft.plans.expressions.array_dot(a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** DuckDB mirror of `dot` as a generated left-associative sum. */
  def dotSql(a: String, b: String, dim: Int): String =
    (1 to dim).map(i =>
      s"CAST(list_extract($a,$i) AS DOUBLE)*CAST(list_extract($b,$i) AS DOUBLE)")
      .mkString("(", " + ", ")")

  def cosineSql(a: String, b: String, dim: Int): String = {
    val d  = dotSql(a, b, dim)
    val na = s"sqrt(${dotSql(a, a, dim)})"
    val nb = s"sqrt(${dotSql(b, b, dim)})"
    s"($d / ($na * $nb))"
  }

  /** Deterministic hash-ranked top-n pick, shared by every sampled
    * centroid/codebook builder: the `n` rows of `cands` ranked first by
    * (pseudoUniform(cid, salt), cid), numbered 1..n into `rankName`.
    *
    * Physically this is orderBy + limit — TakeOrderedAndProject, a
    * distributed per-partition top-n with an O(n) driver merge — never a
    * global row_number window, which collapses the whole corpus into one
    * WindowExec partition. The post-limit re-rank window runs over ≤ n
    * rows and carries an explicit single-valued partition spec (pmod by
    * 1 — a foldable literal would be optimized away, reintroducing the
    * empty-spec WindowExec). Because the ordering is total (cid is a
    * unique id), the surviving set and the assigned ranks are
    * bit-identical to the
    * `row_number().over(Window.orderBy(u, cid)) <= n` formulation the
    * DuckDB oracle mirrors keep. */
  def hashRankedPick(cands: DataFrame, n: Int, salt: Long,
                     rankName: String, idCol: String = "cid"): DataFrame = {
    import graft.functions.ColFns
    val u = ColFns.pseudoUniform(col(idCol), salt)
    cands.withColumn("__u", u)
      .orderBy(col("__u").asc, col(idCol).asc).limit(n)
      .withColumn(rankName, row_number().over(
        ColFns.boundedGlobal(col(idCol))(col("__u").asc, col(idCol).asc)))
      .drop("__u")
  }

  /** J7/G4/W1: exact brute-force cosine top-k per source vector, as an
    * O(n²) non-equi join + `row_number` window. This is the reference
    * formulation — the specs and the benchmark's `sim.knn` layer compare
    * against it — not an engine path: the engine runs the same top-k
    * through `bruteForceTopKBlocked`. At 100 TB use `lshTopK` below.
    *
    * `queries` and `corpus` both carry (idCol, vecCol). Self-matches are
    * excluded. Deterministic tie-break on neighbor id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     symmetric: Boolean = false): DataFrame = {
    // norms are computed once per vector (O(n·d)), not once per pair
    // (O(n²·d)) — the pair loop then does a single dot product
    val q = queries.select(col(idCol).as("src"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("dst"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored =
      if (symmetric) {
        // queries == corpus: cos(a,b) = cos(b,a), so evaluate each
        // unordered pair once (src < dst) and mirror — halves the pair
        // loop's dot products
        val half = q.join(c, col("src") < col("dst"))
          .select(col("src"), col("dst"),
            (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
        half.unionAll(half.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
      } else
        q.join(c, col("src") =!= col("dst"))
          .select(col("src"), col("dst"),
            (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("src"), col("rn"), col("dst"), round(col("cos"), 6).as("cos"))
  }

  /** Exact left-to-right dot product — the JVM twin of the
    * ArrayDotProduct expression (same fold order, so identical bits). */
  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Spark's round(_, 6): HALF_UP via BigDecimal, matching the Catalyst
    * Round expression bit-for-bit — including its pass-through of NaN
    * and ±Infinity, which BigDecimal cannot represent. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `a` sorts strictly before `b` under Spark's descending order on
    * doubles: NaN above every value, NaN equal to NaN, -0.0 equal to 0.0. */
  private def aboveDesc(a: Double, b: Double): Boolean =
    if (a.isNaN) !b.isNaN else a > b

  /** Brute-force top-k as a broadcast kernel: the corpus (ids, vectors,
    * norms) is collected and broadcast — the same memory contract as a
    * broadcast hash join build side — and each partition scans its query
    * rows against it with an O(n·k) insertion top-k. Compared to the
    * crossJoin + window formulation this emits n·k rows instead of
    * shuffling n² scored pairs, which is the difference between a wide
    * exchange and a map-only stage at any scale where brute force is
    * even admissible (corpus fits memory; otherwise lshTopK / ivfTopK).
    *
    * Ids may be of any orderable non-binary type (bigint vec ids,
    * string node ids) and must be unique and non-null; `src` and `dst`
    * come out in that type. The corpus is collected in Spark's own order
    * of the id column, so the corpus index IS the `dst asc` tie-break
    * (Spark orders strings as binary UTF-8, not as Java's compareTo) and
    * ranking runs on (cos desc, index asc) over primitive arrays; self
    * is excluded by index. `cos` orders as Spark's descending sort does:
    * NaN above every value, NaN equal to NaN, -0.0 equal to 0.0.
    *
    * Bit-compatible with bruteForceTopK: same dot fold order, same
    * cos = dot/(qn·cn) expression, same (cos desc, id asc) tie-break,
    * same HALF_UP rounding — asserted equal in SimilaritySpec. One
    * deliberate difference: a zero-norm vector scores 0/0 = NaN here,
    * where the window form's ANSI division raises DIVIDE_BY_ZERO.
    */
  def bruteForceTopKBlocked(queries: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String, k: Int,
                            rankRounded: Boolean = false): DataFrame = {
    val sp = queries.sparkSession
    val idType = corpus.schema(idCol).dataType
    // self-exclusion looks ids up by equals, which byte arrays lack
    require(idType != BinaryType, s"bruteForceTopKBlocked: binary id column $idCol")
    // Spark sorts the corpus in the one task that feeds the collect —
    // its own order on the id type, without orderBy's range-sampling
    // job and shuffle (the driver holds the whole corpus either way)
    val corpusRows = corpus
      .select(col(idCol), col(vecCol).cast("array<double>"))
      .coalesce(1).sortWithinPartitions(col(idCol)).collect()
    val ids = corpusRows.map(_.get(0))
    val vecs = corpusRows.map(_.getSeq[Double](1).toArray)
    val norms = vecs.map(v => math.sqrt(dotArr(v, v)))
    val index = ids.zipWithIndex.toMap
    val bc = sp.sparkContext.broadcast((ids, vecs, norms, index))
    // spread the QUERY side before the O(|q|·|corpus|·dim) score map —
    // a single-file embeddings scan would otherwise run every dot
    // product in one task (the small-corpus file-layout trap; no-op
    // once the input has real splits)
    val out = StructType(Seq(
      StructField("src", idType, nullable = false),
      StructField("rn", IntegerType, nullable = false),
      StructField("dst", idType, nullable = false),
      StructField("cos", DoubleType, nullable = false)))
    // a typed map over the query plan, not an RDD: the output keeps the
    // scan's size estimate, so joins over it still plan as broadcasts
    graft.core.Tables.spreadForMap(
        queries.select(col(idCol).cast(idType).as("__id"),
          col(vecCol).cast("array<double>").as("__v")), col("__id"))
      .mapPartitions { it =>
        val (cids, cvecs, cnorms, cindex) = bc.value
        it.flatMap { row =>
          val src = row.get(0)
          val qv = row.getSeq[Double](1).toArray
          val qn = math.sqrt(dotArr(qv, qv))
          val self = cindex.getOrElse(src, -1)
          val bestCos = new Array[Double](k)
          val bestIdx = new Array[Int](k)
          var filled = 0
          var j = 0
          while (j < cids.length) {
            if (j != self) {
              val raw = dotArr(qv, cvecs(j)) / (qn * cnorms(j))
              // rankRounded: order by the 6-decimal value the query
              // emits, so near-equal cosines rank identically across
              // engines (ties resolve on id)
              val c = if (rankRounded) round6(raw) else raw
              // insertion position under (cos desc, index asc): j only
              // grows, so an equal cos never passes an earlier entry
              var pos = filled
              while (pos > 0 && aboveDesc(c, bestCos(pos - 1))) pos -= 1
              if (pos < k) {
                val upto = math.min(filled, k - 1)
                var m = upto
                while (m > pos) {
                  bestCos(m) = bestCos(m - 1); bestIdx(m) = bestIdx(m - 1); m -= 1
                }
                bestCos(pos) = c; bestIdx(pos) = j
                if (filled < k) filled += 1
              }
            }
            j += 1
          }
          (0 until filled).map(r =>
            Row(src, r + 1, cids(bestIdx(r)), round6(bestCos(r))))
        }
      }(Encoders.row(out))
  }

  /** Threshold similarity self-join as a broadcast kernel (the blocked
    * sibling of bruteForceTopKBlocked for near-dup detection): emits
    * each unordered pair (a < b) with cos ≥ minCos, scanning each
    * partition's vectors against the broadcast corpus restricted to
    * larger ids. Bit-compatible with the crossJoin formulation — same
    * dot fold, same cos expression, same rounding. */
  def thresholdJoinBlocked(vectors: DataFrame, idCol: String, vecCol: String,
                           minCos: Double): DataFrame = {
    val sp = vectors.sparkSession
    import sp.implicits._
    val rows = vectors
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val ids = rows.map(_._1)
    val vecs = rows.map(_._2)
    val norms = vecs.map(v => math.sqrt(dotArr(v, v)))
    val bc = sp.sparkContext.broadcast((ids, vecs, norms))
    // same query-side spread as bruteForceTopKBlocked (single-file trap)
    graft.core.Tables.spreadForMap(
        vectors.select(col(idCol).cast("long").as("__id"),
          col(vecCol).cast("array<double>").as("__v")), col("__id"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (cids, cvecs, cnorms) = bc.value
        it.flatMap { case (src, qv) =>
          val qn = math.sqrt(dotArr(qv, qv))
          // only ids strictly greater than src: each pair evaluated once
          var lo = java.util.Arrays.binarySearch(cids, src)
          lo = (if (lo < 0) -lo - 1 else lo + 1)
          val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
          var j = lo
          while (j < cids.length) {
            val c = dotArr(qv, cvecs(j)) / (qn * cnorms(j))
            if (c >= minCos) out += ((src, cids(j), round6(c)))
            j += 1
          }
          out
        }
      }.toDF("src", "dst", "cos")
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * operator a 100 TB embedding corpus needs (4× smaller than float32,
    * 8× smaller than float64): per-vector scale = max|x|/127, values
    * round to [-127, 127]. Pure column math (one codegen'd projection),
    * mirrored exactly in SQL. The scale is bound as a column before the
    * quantize lambda — inlined, it would be re-evaluated per element. */
  def quantizeInt8(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val sc = col("__scale")
    vectors
      .withColumn("__v", v)
      .withColumn("__scale",
        greatest(array_max(transform(col("__v"), x => abs(x))), lit(1e-12)) / 127.0)
      .withColumn("__q", transform(col("__v"), x => round(x / sc).cast("int")))
      .select(col(idCol).as("id"),
        round(sc, 9).as("scale"),
        size(col("__q")).as("n_dims"),
        array_min(col("__q")).as("q_min"),
        array_max(col("__q")).as("q_max"),
        aggregate(col("__q"), lit(0L), (a, x) => a + x).as("q_sum"))
  }

  /** Product-quantization codes: `dim` split into `nSub` subspaces; the
    * codebook per subspace is the corresponding subvectors of
    * `codebookSize` hash-chosen corpus rows (the same deterministic
    * hash-sampled codebook the IVF hash-quantizer uses, so the whole
    * operator replays in SQL — a KMeans-trained codebook slots into the
    * identical interface); code = argmin-L2 codeword per subspace with
    * a lower-code tie-break. The PQ storage path complementing int8:
    * 64 float32 dims → `nSub` byte codes (32× at 8×16), and ADC scoring
    * becomes nSub table lookups per candidate. */
  def pqCodes(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
              nSub: Int = 8, codebookSize: Int = 16, salt: Long = 17L): DataFrame = {
    import graft.functions.ColFns
    require(dim % nSub == 0, s"dim $dim must split evenly into $nSub subspaces")
    val subLen = dim / nSub
    val base = vectors.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val cents = hashRankedPick(
      vectors.select(col(idCol).as("cid"),
        col(vecCol).cast("array<double>").as("cv")),
      codebookSize, salt, "code")
      .select("code", "cv")
    val aggs = (0 until nSub).map { s =>
      val sv = slice(col("v"), s * subLen + 1, subLen)
      val cs = slice(col("cv"), s * subLen + 1, subLen)
      // |v_s|² is constant per id — rank codewords by |c_s|² − 2·v_s·c_s
      val d = dot(cs, cs) - lit(2.0) * dot(sv, cs)
      min_by(col("code"), struct(d.as("d"), col("code"))).as(s"c$s")
    }
    base.crossJoin(broadcast(cents)).groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** DuckDB mirror of `pqCodes`. */
  def pqCodesSql(table: String, idCol: String, vecCol: String, dim: Int,
                 nSub: Int = 8, codebookSize: Int = 16, salt: Long = 17L): String = {
    val subLen = dim / nSub
    def sdot(a: String, b: String, s: Int): String =
      (s * subLen + 1 to (s + 1) * subLen).map(i =>
        s"CAST(list_extract($a,$i) AS DOUBLE)*CAST(list_extract($b,$i) AS DOUBLE)")
        .mkString("(", " + ", ")")
    val dCols = (0 until nSub).map(s =>
      s"${sdot("cv", "cv", s)} - 2.0*${sdot("v", "cv", s)} AS d$s").mkString(",\n  ")
    // DuckDB's min_by takes no composite ordering — rank per subspace
    // with an explicit (distance, code) window instead
    val rCols = (0 until nSub).map(s =>
      s"row_number() OVER (PARTITION BY id ORDER BY d$s ASC, code ASC) AS r$s")
      .mkString(",\n  ")
    val picks = (0 until nSub).map(s =>
      s"CAST(max(CASE WHEN r$s = 1 THEN code END) AS INTEGER) AS c$s").mkString(", ")
    val pu = graft.functions.ColFns.pseudoUniformSql("cid", salt)
    s"""WITH base AS (SELECT $idCol AS id, $vecCol AS v FROM $table),
       |cands AS (SELECT $idCol AS cid, $vecCol AS cv FROM $table),
       |cents AS (SELECT code, cv FROM (
       |  SELECT cv, row_number() OVER (ORDER BY $pu ASC, cid ASC) AS code
       |  FROM cands) WHERE code <= $codebookSize),
       |pairs AS (SELECT id, code,
       |  $dCols
       |  FROM base CROSS JOIN cents),
       |ranked AS (SELECT id, code,
       |  $rCols
       |  FROM pairs)
       |SELECT id AS vec_id, $picks
       |FROM ranked GROUP BY id ORDER BY vec_id""".stripMargin
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes: the
    * production ANN shape at 100 TB — candidates are pruned by a cheap
    * sign-LSH bucket, then scored from their `nSub`-byte PQ codes
    * against the query's EXACT vector, never touching the candidates'
    * original floats. Per candidate the score is nSub codebook lookups:
    * rank by Σ_s (|c_s|² − 2·q_s·c_s) (the query's |q_s|² terms are
    * constant per query, exactly the IVF ranking trick). The codebook
    * joins are nSub broadcasts of `codebookSize` rows. */
  def pqAdcTopK(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
                k: Int, nSub: Int = 8, codebookSize: Int = 16,
                nPlanes: Int = 6, salt: Long = 17L): DataFrame = {
    import graft.functions.ColFns
    require(dim % nSub == 0)
    val subLen = dim / nSub
    val codes = pqCodes(vectors, idCol, vecCol, dim, nSub, codebookSize, salt)
    val base = vectors.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", lshBucket(col("v"), dim, nPlanes))
    val qs = base.select(col("id").as("src"), col("v").as("qv"), col("bucket"))
    val xs = base.select(col("id").as("dst"), col("bucket"))
      .join(codes.withColumnRenamed("id", "dst"), "dst")
    val cents = hashRankedPick(
      vectors.select(col(idCol).as("cid"),
        col(vecCol).cast("array<double>").as("cv")),
      codebookSize, salt, "code")
    var cur = qs.join(xs, Seq("bucket")).filter(col("src") =!= col("dst"))
    val terms = (0 until nSub).map { s =>
      val cs = cents.select(col("code").as(s"k$s"),
        slice(col("cv"), s * subLen + 1, subLen).as(s"cw$s"))
      cur = cur.join(broadcast(cs), col(s"c$s") === col(s"k$s"))
      dot(col(s"cw$s"), col(s"cw$s")) -
        lit(2.0) * dot(slice(col("qv"), s * subLen + 1, subLen), col(s"cw$s"))
    }
    val w = Window.partitionBy("src").orderBy(col("adc").asc, col("dst").asc)
    cur.withColumn("adc", terms.reduce(_ + _))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("src"), col("rn"), col("dst"), round(col("adc"), 6).as("adc"))
  }

  /** DuckDB mirror of `pqAdcTopK`. */
  def pqAdcTopKSql(table: String, idCol: String, vecCol: String, dim: Int,
                   k: Int, nSub: Int = 8, codebookSize: Int = 16,
                   nPlanesSql: String = "6", salt: Long = 17L): String = {
    val subLen = dim / nSub
    def sdot(a: String, b: String, s: Int): String =
      (s * subLen + 1 to (s + 1) * subLen).map(i =>
        s"CAST(list_extract($a,$i) AS DOUBLE)*CAST(list_extract($b,$i) AS DOUBLE)")
        .mkString("(", " + ", ")")
    val pu = graft.functions.ColFns.pseudoUniformSql("cid", salt)
    val dCols = (0 until nSub).map(s =>
      s"${sdot("cv", "cv", s)} - 2.0*${sdot("v", "cv", s)} AS d$s").mkString(",\n  ")
    val rCols = (0 until nSub).map(s =>
      s"row_number() OVER (PARTITION BY id ORDER BY d$s ASC, code ASC) AS r$s")
      .mkString(",\n  ")
    val picks = (0 until nSub).map(s =>
      s"max(CASE WHEN r$s = 1 THEN code END) AS c$s").mkString(", ")
    val bucket = lshBucketSqlDynamic(vecCol, dim, nPlanesSql)
    val centJoins = (0 until nSub).map(s =>
      s"JOIN cents k$s ON k$s.code = p.c$s").mkString("\n  ")
    val adc = (0 until nSub).map(s =>
      s"(${sdot(s"k$s.cv", s"k$s.cv", s)} - 2.0*${sdot("p.qv", s"k$s.cv", s)})")
      .mkString(" + ")
    s"""WITH cands AS (SELECT $idCol AS cid, $vecCol AS cv FROM $table),
       |cents AS (SELECT code, cv FROM (
       |  SELECT cv, row_number() OVER (ORDER BY $pu ASC, cid ASC) AS code
       |  FROM cands) WHERE code <= $codebookSize),
       |cpairs AS (SELECT b.$idCol AS id, c.code,
       |  $dCols
       |  FROM (SELECT $idCol, $vecCol AS v FROM $table) b CROSS JOIN cents c),
       |cranked AS (SELECT id, code,
       |  $rCols
       |  FROM cpairs),
       |codes AS (SELECT id, $picks FROM cranked GROUP BY id),
       |base AS (SELECT $idCol AS id, $vecCol AS v, $bucket AS bucket FROM $table),
       |p AS (
       |  SELECT q.id AS src, q.v AS qv, x.id AS dst,
       |         ${(0 until nSub).map(s => s"c.c$s").mkString(", ")}
       |  FROM base q JOIN base x ON q.bucket = x.bucket AND q.id <> x.id
       |  JOIN codes c ON c.id = x.id),
       |scored AS (
       |  SELECT p.src, p.dst, $adc AS adc
       |  FROM p
       |  $centJoins),
       |r AS (SELECT src, dst, adc,
       |  row_number() OVER (PARTITION BY src ORDER BY adc ASC, dst ASC) AS rn
       |  FROM scored)
       |SELECT src, rn, dst, round(adc, 6) AS adc FROM r WHERE rn <= $k
       |ORDER BY src, rn""".stripMargin
  }

  /** Hyperplane family for the sign-LSH bucket: a fixed seeded-Gaussian
    * matrix, maxPlanes × maxLshDim. The previous closed form
    * ((j·73 + i·179) mod 97)/97 − 0.5 made every plane a CYCLIC SHIFT
    * of one 97-periodic sequence (j only moves the start, i the
    * stride), so plane projections were strongly correlated and sign
    * patterns collapsed onto a few structured ids — measured at sf10:
    * 2334 of 8192 buckets populated, top bucket 12531 of 200k vectors
    * (the top ids were bit-periodic: 0101…, 00110011…), Σsize² ≈ 836M
    * pairs, sim_lsh_topk 437 s — and no adaptive plane count could
    * help, because every added plane was another shift of the same
    * sequence. Independent Gaussian rows restore the standard
    * sign-random-projection behavior (bucket loads ≈ n/2^p).
    * java.util.Random's nextGaussian algorithm is pinned by its
    * javadoc, so the constants are identical on every JVM; both
    * engines read THIS matrix — the Spark expression via typedLit, the
    * DuckDB mirrors as string-cast literals — so cross-engine parity
    * is by construction, not by re-derivation.
    *
    * Ceiling (r14): maxPlanes = 30 covers corpora to 2^30·32 ≈ 3.4e10
    * vectors at the ≈32-expected-bucket contract — past the 1e10-vector
    * regime the IVF comments cite, so no realistic corpus hits the
    * require(). Widening from 24 extends the SAME Gaussian stream
    * (row-major fill), so planes 0–23 — and every shipped bucket id —
    * are bit-identical to r13. Beyond 30 both engines now fail the SAME
    * way: lshBucket's require() here, the error()-raising guard in
    * [[lshBucketSqlDynamic]] in DuckDB. */
  val maxPlanes = 30
  val maxLshDim = 128
  private val planeMatrix: IndexedSeq[IndexedSeq[Double]] = {
    val rnd = new java.util.Random(20260816L)
    IndexedSeq.fill(maxPlanes, maxLshDim)(rnd.nextGaussian())
  }
  private def planeComponent(j: Int, i: Int): Double = planeMatrix(j)(i)

  /** Sign-random-projection (SimHash-style) LSH bucket id over
    * `nPlanes` deterministic hyperplanes. Vectors agreeing on all sign
    * bits land in one bucket; the ANN join then only pairs within a
    * bucket — the 100 TB scale path (shuffle keyed by bucket, no cross
    * join). Recall is tunable via nPlanes (fewer planes → bigger
    * buckets → higher recall, more compute).
    */
  def lshBucket(vecCol: Column, dim: Int, nPlanes: Int): Column = {
    require(nPlanes <= maxPlanes && dim <= maxLshDim,
      s"nPlanes=$nPlanes/dim=$dim exceed the ${maxPlanes}x$maxLshDim plane matrix " +
        s"(maxPlanes covers corpora to 2^$maxPlanes*32 vectors - widen the matrix first)")
    val bits = (0 until nPlanes).map { j =>
      // one codegen'd dot against the constant plane vector — the naive
      // dim-term Add chain compiles to a pathological expression tree.
      // Fold order (left-to-right, double) is identical, so bucket ids
      // and the DuckDB mirror are unchanged.
      val plane = typedLit((0 until dim).map(i => planeComponent(j, i)))
      val proj = dot(vecCol, plane)
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Corpus-adaptive LSH plane count: the smallest p ≥ 4 with
    * 2^p · 32 ≥ n, i.e. ceil(log2(n/32)) floored at 4 — expected bucket
    * size stays ≈32 as the corpus grows, so the bucket self-join stays
    * ~32·n instead of n²/2^planes with a FIXED p (sim_lsh_topk measured
    * 5.4 s → 188 s for 10× data at sf1→sf10 on pinned p=8 before r13).
    * The count is HALF the contract: expected size ≈32 only holds when
    * the planes are independent — see [[planeMatrix]] for the r13
    * correlated-family defect this sizing could not fix alone.
    * Integer loop, not float log: ceil(ln(n/32)/ln 2) can land one ULP
    * above an exact power and round the plane count up where the SQL
    * mirror (C log2, exact on powers of two) would not. */
  def scaleNPlanes(n: Long): Int = {
    var p = 4
    while ((1L << p) * 32L < n) p += 1
    p
  }

  /** DuckDB mirror of [[scaleNPlanes]] as a scalar subquery (same
    * contract as [[scaleNListsSql]]). log2 is exact on powers of two,
    * so ceil agrees with the integer loop at every n. */
  def scaleNPlanesSql(from: String): String =
    s"(SELECT greatest(4, CAST(ceil(log2(CAST(count(*) AS DOUBLE)/32)) AS INTEGER)) FROM $from)"

  /** DuckDB mirror of `lshBucket` with a DATA-DEPENDENT plane count:
    * `nPlanesSql` may be a scalar subquery ([[scaleNPlanesSql]]).
    * Each projection sums over dims left to right, the same order the
    * Spark expression uses. */
  def lshBucketSqlDynamic(vec: String, dim: Int, nPlanesSql: String): String = {
    require(dim <= maxLshDim, s"dim=$dim exceeds the plane matrix width")
    // all maxPlanes sign-bit terms unrolled with the Spark expression's
    // projection arithmetic (left-assoc + chain), each term gated on the
    // runtime plane count. Lambda-free on purpose: DuckDB lambdas
    // cannot capture a correlated outer column, so the old
    // closed-form-in-lambda trick cannot read an embedded constant
    // matrix — and the closed form it computed is exactly what the
    // Gaussian matrix replaces (see planeMatrix). nPlanesSql is an
    // uncorrelated scalar subquery: DuckDB evaluates each occurrence
    // once, not per row.
    // runtime ceiling guard (r14 ADVICE): past maxPlanes the unrolled
    // CASE terms would silently cap the bucket while the Spark side
    // require()-fails — the two engines must fail the SAME way, so the
    // first summand raises via DuckDB's error() exactly where lshBucket
    // aborts (lazily evaluated: free below the ceiling)
    val guard = s"(CASE WHEN ($nPlanesSql) > $maxPlanes THEN " +
      s"CAST(error('nPlanes exceeds the ${maxPlanes}-plane matrix " +
      s"(corpus past 2^$maxPlanes*32 vectors) - LSH hands off to IVF " +
      s"here; see Similarity.maxPlanes') AS BIGINT) ELSE 0 END)"
    val bits = (0 until maxPlanes).map { j =>
      val proj = (0 until dim).map { i =>
        // string→double parse is correctly rounded in DuckDB, unlike a
        // wide DECIMAL literal converted to double
        val comp = planeComponent(j, i)
        s"CAST(list_extract($vec,${i + 1}) AS DOUBLE)*CAST('$comp' AS DOUBLE)"
      }.mkString("(", " + ", ")")
      s"(CASE WHEN ($nPlanesSql) > $j AND $proj >= 0 THEN ${1L << j} ELSE 0 END)"
    }
    (guard +: bits).mkString("CAST((", " + ", ") AS BIGINT)")
  }

  /** ANN top-k restricted to LSH bucket collisions. Same output shape as
    * bruteForceTopK; a vector with no bucket-mates simply yields no rows
    * (approximate semantics, documented). */
  def lshTopK(vectors: DataFrame, idCol: String, vecCol: String,
              dim: Int, nPlanes: Int, k: Int,
              rankRounded: Boolean = false): DataFrame = {
    val withBucket = vectors.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), dim, nPlanes).as("bucket"),
      norm(col(vecCol)).as("nrm"))
    val a = withBucket.select(col("id").as("src"), col("v").as("qv"),
      col("bucket"), col("nrm").as("qn"))
    val b = withBucket.select(col("id").as("dst"), col("v").as("cv"),
      col("bucket"), col("nrm").as("cn"))
    val scored = a.join(b, Seq("bucket")).filter(col("src") =!= col("dst"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val rankCol = if (rankRounded) round(col("cos"), 6) else col("cos")
    val w = Window.partitionBy("src").orderBy(rankCol.desc, col("dst").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("src"), col("rn"), col("dst"), round(col("cos"), 6).as("cos"))
  }

  /** IVF (inverted-file) ANN top-k — the second scale path alongside
    * LSH: a KMeans coarse quantizer assigns every vector to its nearest
    * centroid ("list"); a query probes its `nProbe` nearest lists and
    * scores only vectors inside them. Shuffle is keyed by list id, list
    * sizes are balanced by the quantizer, and the centroid table
    * (nLists × dim) broadcasts. Recall tunes via nProbe.
    *
    * Same output shape as bruteForceTopK; approximate semantics — a
    * neighbor outside the probed lists is missed (documented).
    */
  /** KMeans coarse quantizer for IVF, shared by `ivfTopK` and the
    * persisted-index catalog entry: fits `nLists` trained centroids and
    * returns (centroids(list, cv), lists(list, id, v, nrm)) — the two
    * frames a persisted ANN index is made of. The fit is model-coupled
    * (no SQL mirror); everything downstream of the two frames is pure
    * column math both engines can replay from the persisted bits. */
  def trainedQuantizer(vectors: DataFrame, idCol: String, vecCol: String,
                       nLists: Int, seed: Long = 42L, maxIter: Int = 8)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    val sp = vectors.sparkSession
    import sp.implicits._
    // localCheckpoint, not cache(): KMeans makes maxIter passes and the
    // quantizer input feeds the fit AND the corpus assignment — without
    // materialization every pass replays the parquet scan + array→vector
    // cast. Checkpoint blocks are freed by the ContextCleaner when the
    // frame goes unreferenced, whereas a dropped cache() reference would
    // pin a corpus copy in the CacheManager for the app's lifetime on
    // every invocation.
    val base = vectors.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("fv", org.apache.spark.ml.functions.array_to_vector(col("v")))
      .localCheckpoint(true)
    // a coarse quantizer only has to balance the lists, not converge —
    // 8 Lloyd passes is plenty for an ANN routing table
    val model = graft.ml.ModelRegistry.stripSummary(
      new KMeans().setK(nLists).setSeed(seed).setMaxIter(maxIter)
        .setFeaturesCol("fv").setPredictionCol("list").fit(base))
    val cents = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray) }.toDF("list", "cv")
    val lists = model.transform(base)
      .select(col("list"), col("id"), col("v"), norm(col("v")).as("nrm"))
    (cents, lists)
  }

  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
              nLists: Int = 16, nProbe: Int = 3, seed: Long = 42L): DataFrame = {
    val (cents0, lists) = trainedQuantizer(vectors, idCol, vecCol, nLists, seed)
    // corpus side: every vector in exactly its nearest list
    val assigned = lists
      .select(col("id").as("dst"), col("v").as("cv"), col("list"),
        col("nrm").as("cn"))
    // query side: nProbe nearest centroids via a broadcast join against
    // the tiny centroid table (d² = |q|² − 2q·c + |c|²; |q|² constant per
    // query, so rank by |c|² − 2q·c)
    val cents = cents0.withColumnRenamed("cv", "cvec")
    val base = lists
    val probeW = Window.partitionBy("src").orderBy(col("rank_d").asc, col("list").asc)
    val probes = base.select(col("id").as("src"), col("v").as("qv"))
      .withColumn("qn", norm(col("qv")))
      .crossJoin(broadcast(cents))
      .withColumn("rank_d", dot(col("cvec"), col("cvec")) -
        lit(2.0) * dot(col("qv"), col("cvec")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select("src", "qv", "qn", "list")
    val scored = probes.join(assigned, Seq("list")).filter(col("src") =!= col("dst"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("src"), col("rn"), col("dst"), round(col("cos"), 6).as("cos"))
  }

  /** IVF with deterministic hash-sampled coarse centroids — the
    * SQL-mirrorable sibling of `ivfTopK`: instead of a KMeans fit, the
    * `nLists` centroids are the vectors ranked first by a deterministic
    * hash of their id (the classic random-sampling quantizer baseline).
    * Every step — centroid pick, nearest-list assignment, `nProbe`
    * probing, in-list scoring — is pure column math, so a DuckDB oracle
    * can replay it bit-for-bit (see `ivfHashTopKSql`).
    *
    * Same scale shape as ivfTopK: the centroid table broadcasts, the
    * assignment is a map-side crossJoin against nLists rows, and the
    * scoring shuffle is keyed by list id. `idCol` must be integral (the
    * hash is arithmetic, matching ColFns.pseudoUniformSql).
    */
  def ivfHashTopK(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
                  nLists: Int = 16, nProbe: Int = 3, salt: Long = 13L): DataFrame =
    ivfTopKFromScored(ivfHashScored(vectors, idCol, vecCol, nLists, nProbe, salt), k)

  /** Corpus-adaptive coarse-quantizer size: nlist = max(16, ⌈√n⌉).
    * Per-query serve work is nProbe·(n/nlist); a FIXED nlist makes that
    * linear in the corpus (total serve cost quadratic — measured
    * 2.3 s → 31.7 s for 10× data at sf0.1→sf1 before r13), while
    * nlist ∝ √n keeps both the expected cell size and the per-query
    * candidate count at ~√n — the standard IVF sizing rule (FAISS's
    * nlist ≈ 4√n..16√n band). The floor keeps tiny corpora off
    * degenerate 2-3-row centroid tables. The centroid table stays
    * broadcastable at every scale this engine targets: √n rows is
    * 448 at sf10 and ~10⁵ (≈50 MB of dim-64 doubles) at 10¹⁰ vectors. */
  def scaleNLists(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** The DuckDB mirror of [[scaleNLists]] as a scalar subquery —
    * oracles have no SparkSession to count with, so the SQL computes
    * the same adaptive size from the same rows. `from` is a table or
    * CTE name (optionally with a WHERE) whose row count is the corpus
    * size the Spark side counted. */
  def scaleNListsSql(from: String): String =
    s"(SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS INTEGER)) FROM $from)"

  /** Finishing step shared by the fresh-build and prebuilt-index top-k
    * paths: per-query rank window + cutoff. */
  def ivfTopKFromScored(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("src"), col("rn"), col("dst"), round(col("cos"), 6).as("cos"))
  }

  /** The index half of the hash-pick IVF pipeline: every vector with its
    * `maxRank` nearest lists (rank 1 = its assigned cell). One corpus
    * pass; reusable across query modes that probe ≤ maxRank lists — the
    * catalog memoizes ONE of these for the top-k and near-dup entries
    * (one index, many query shapes, the production economics). */
  def ivfHashRanked(vectors: DataFrame, idCol: String, vecCol: String,
                    nLists: Int, maxRank: Int, salt: Long): DataFrame = {
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = hashRankedPick(
      vectors.select(col(idCol).as("cid"), col(vecCol).as("cv")),
      nLists, salt, "list")
      .select("list", "cv")
    // nearest lists per vector: d² = |v|² − 2v·c + |c|²; |v|² is constant
    // per vector, so rank by |c|² − 2v·c (ties → lower list id)
    val ranked = base.crossJoin(broadcast(cents))
      .withColumn("rank_d",
        dot(col("cv"), col("cv")) - lit(2.0) * dot(col("v"), col("cv")))
    val aw = Window.partitionBy("id").orderBy(col("rank_d").asc, col("list").asc)
    ranked.withColumn("arn", row_number().over(aw))
      .filter(col("arn") <= maxRank)
      .select("id", "v", "nrm", "list", "arn")
  }

  /** Candidate scoring over a prebuilt ranked-assignment table:
    * assigned cell = rank 1, probes = ranks ≤ nProbe (requires the
    * table's maxRank ≥ nProbe), in-list cosine on the survivors. */
  def ivfScoredFromRanked(ranked: DataFrame, nProbe: Int): DataFrame = {
    val assigned = ranked.filter(col("arn") === 1)
      .select(col("id").as("dst"), col("v").as("dv"), col("nrm").as("cn"), col("list"))
    val probes = ranked.filter(col("arn") <= nProbe)
      .select(col("id").as("src"), col("v").as("qv"), col("nrm").as("qn"), col("list"))
    probes.join(assigned, Seq("list")).filter(col("src") =!= col("dst"))
      .withColumn("cos", dot(col("qv"), col("dv")) / (col("qn") * col("cn")))
  }

  /** The common IVF candidate pipeline: hash-picked centroids, nearest-
    * list assignment, `nProbe` probing, in-list cosine scoring. Returns
    * every (src, dst, cos) where src probed dst's assigned cell. */
  private def ivfHashScored(vectors: DataFrame, idCol: String, vecCol: String,
                            nLists: Int, nProbe: Int, salt: Long): DataFrame =
    ivfScoredFromRanked(
      ivfHashRanked(vectors, idCol, vecCol, nLists, maxRank = nProbe, salt), nProbe)

  /** D13: semantic near-dup pairs, IVF-bucketed — the scale path for
    * the brute-force threshold join (d5): a pair is compared only when
    * one side probes the other's coarse cell, so the candidate count
    * drops by ~nProbe/nLists versus the all-pairs join. The factor is
    * constant at fixed nLists — at corpus scale nLists must grow with
    * n (∝√n keeps expected cell size and probe cost both ~√n), which
    * the catalog entry does via [[scaleNLists]], the oracle mirroring
    * the count with [[scaleNListsSql]]. Pairs are
    * normalized (src < dst) and deduped — (a probes b) and (b probes a)
    * produce the same row because the component-wise dot is
    * order-independent. Approximate by design: boundary pairs whose
    * cells fall outside each other's `nProbe` lists are the recall gap,
    * measured in SimilaritySpec against the exact kernel. */
  def ivfNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                      minCos: Double, nLists: Int = 16, nProbe: Int = 2,
                      salt: Long = 13L): DataFrame =
    ivfNearDupPairsFromScored(
      ivfHashScored(vectors, idCol, vecCol, nLists, nProbe, salt), minCos)

  /** Finishing step shared by the fresh-build and prebuilt-index
    * near-dup paths: threshold, normalize (src < dst), dedup. */
  def ivfNearDupPairsFromScored(scored: DataFrame, minCos: Double): DataFrame =
    scored
      // NaN guard: a zero-norm vector makes cos 0/0 = NaN, and Spark's
      // DoubleType ordering ranks NaN ABOVE every number, so a bare
      // >= would emit NaN pairs the exact kernel (primitive Java >=)
      // drops — breaking the exact-subset contract. DuckDB's mirror
      // needs no twin clause: its 0/0 is NULL, which the WHERE drops.
      .filter(col("cos") >= minCos && !isnan(col("cos")))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        round(col("cos"), 6).as("cos"))
      .distinct()
      .select(col("a").as("src"), col("b").as("dst"), col("cos"))

  /** The WITH-chain shared by the IVF oracle mirrors, ending at
    * `scored` — textually one source so the topK and near-dup oracles
    * can never drift from each other. */
  private def ivfScoredSqlPrefix(table: String, idCol: String, vecCol: String,
                                 dim: Int, nListsSql: String, nProbe: Int,
                                 salt: Long): String = {
    import graft.functions.ColFns
    val u = ColFns.pseudoUniformSql(idCol, salt)
    val selfDot = dotSql(vecCol, vecCol, dim)
    val cc = dotSql("c.cv", "c.cv", dim)
    val vc = dotSql("b.v", "c.cv", dim)
    val qd = dotSql("p.qv", "a.dv", dim)
    s"""WITH b AS (SELECT $idCol AS id, $vecCol AS v, sqrt($selfDot) AS nrm FROM $table),
       |cents AS (
       |  SELECT list, cv FROM (
       |    SELECT $vecCol AS cv,
       |      row_number() OVER (ORDER BY $u ASC, $idCol ASC) AS list
       |    FROM $table)
       |  WHERE list <= $nListsSql),
       |ranked AS (
       |  SELECT b.id, b.v, b.nrm, c.list, ($cc - 2.0 * $vc) AS rank_d
       |  FROM b CROSS JOIN cents c),
       |arn AS (SELECT *, row_number() OVER (PARTITION BY id
       |          ORDER BY rank_d ASC, list ASC) AS arn FROM ranked),
       |assigned AS (SELECT id AS dst, v AS dv, nrm AS cn, list FROM arn WHERE arn = 1),
       |probes AS (SELECT id AS src, v AS qv, nrm AS qn, list FROM arn WHERE arn <= $nProbe),
       |scored AS (
       |  SELECT p.src, a.dst, $qd / (p.qn * a.cn) AS cos
       |  FROM probes p JOIN assigned a USING (list) WHERE p.src <> a.dst)""".stripMargin
  }

  /** DuckDB mirror of `ivfHashTopK` over a table with (idCol, vecCol).
    * `nListsSql` is a SQL expression (a literal, or [[scaleNListsSql]]
    * for the corpus-adaptive size the catalog entries use). */
  def ivfHashTopKSql(table: String, idCol: String, vecCol: String, dim: Int,
                     k: Int, nListsSql: String = "16", nProbe: Int = 3,
                     salt: Long = 13L): String =
    s"""${ivfScoredSqlPrefix(table, idCol, vecCol, dim, nListsSql, nProbe, salt)},
       |r AS (SELECT *, row_number() OVER (PARTITION BY src
       |        ORDER BY cos DESC, dst ASC) AS rn FROM scored)
       |SELECT src, rn, dst, round(cos, 6) AS cos FROM r WHERE rn <= $k
       |ORDER BY src, rn""".stripMargin

  /** DuckDB mirror of `ivfNearDupPairs`. */
  def ivfNearDupPairsSql(table: String, idCol: String, vecCol: String,
                         dim: Int, minCos: Double, nListsSql: String = "16",
                         nProbe: Int = 2, salt: Long = 13L): String =
    s"""${ivfScoredSqlPrefix(table, idCol, vecCol, dim, nListsSql, nProbe, salt)}
       |SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst,
       |  round(cos, 6) AS cos
       |FROM scored WHERE cos >= $minCos
       |ORDER BY src, dst""".stripMargin

  /** MLlib-native ANN alternative (SURVEY J7's "scalable" branch):
    * BucketedRandomProjectionLSH approxSimilarityJoin over L2-normalized
    * vectors — Euclidean distance on unit vectors is monotone in cosine
    * (cos = 1 − d²/2), so the threshold translates directly. Returns
    * (src, dst, cos) pairs with cosine ≥ minCosine.
    */
  def mllibLshJoin(vectors: DataFrame, idCol: String, vecCol: String,
                   minCosine: Double, bucketLength: Double = 1.0,
                   numTables: Int = 3, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, Normalizer}
    val toVec = org.apache.spark.ml.functions.array_to_vector(
      col(vecCol).cast("array<double>"))
    val withVec = vectors.select(col(idCol).as("id"), toVec.as("raw"))
    val normed = new Normalizer().setInputCol("raw").setOutputCol("v").setP(2.0)
      .transform(withVec).select("id", "v")
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("v").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numTables).setSeed(seed)
    val model = lsh.fit(normed)
    val maxDist = math.sqrt(math.max(2.0 * (1.0 - minCosine), 0.0))
    model.approxSimilarityJoin(normed, normed, maxDist, "dist")
      .select(col("datasetA.id").as("src"), col("datasetB.id").as("dst"),
        round(lit(1.0) - col("dist") * col("dist") / 2.0, 6).as("cos"))
      .filter(col("src") =!= col("dst"))
  }

  /** A10: similarity-edge statistics per source node
    * (xgboost_training_for_big_data.py:298-318). */
  def similarityStats(simEdges: DataFrame): DataFrame =
    simEdges.groupBy("src").agg(
      round(avg("cos"), 6).as("avg_sim"),
      round(max("cos"), 6).as("max_sim"),
      round(min("cos"), 6).as("min_sim"),
      count(lit(1)).as("n_sim"))
}

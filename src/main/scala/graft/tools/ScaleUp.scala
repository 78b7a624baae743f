package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-sweep data generator: tiles a driver testdata SF directory
  * `copies`× with consistent key shifts, so the data-proportional
  * kernels can be measured beyond sf0.1 (VERDICT r10 #3) without
  * touching the read-only driver testdata.
  *
  * Key discipline (per copy i): every surrogate key shifts by
  * i·(max(key)+1), applied to BOTH sides of every FK edge — each copy
  * is a self-consistent universe, so joins/graphs scale linearly by
  * construction and graph components don't merge across copies.
  * Dimension tables (region, nation) are NOT tiled: FK targets stay
  * valid and group-by cardinalities stay realistic. Document text is
  * alphabet-ROTATED per copy (see the documents tile below for why a
  * token tag fails) — cross-copy shingles and gram hashes can never
  * collide, so the dedup kernels see the SAME per-copy duplicate
  * structure as the source SF instead of a pathological
  * everything-matches-everything blowup. Embedding VECTORS get a
  * per-copy orthogonal transform (dimension permutation + sign flips,
  * identity at copy 0): within-copy geometry — norms, pairwise
  * cosines, dup clusters — is preserved exactly (orthogonal matrix),
  * while cross-copy vectors decorrelate, so ANN kernels see per-copy
  * structure identical to the source instead of every vector carrying
  * copies−1 exact clones that no bucketing can separate.
  * The documents bijection family is affine (see below), so the tool
  * supports up to 312 copies — enough to tile sf0.1 straight to sf10+
  * in one pass instead of compounding rotations through an
  * intermediate SF (composed rotations collide: copy j of an
  * already-rotated copy i lands on rotation i+j, which repeats).
  *
  * Usage: graft.tools.ScaleUp <srcSfDir> <dstDir> <copies>
  */
object ScaleUp {
  /** The per-copy letter bijection family: affine cipher x -> a·x+b
    * mod 26 with a over the 12 units mod 26 — 312 distinct maps, any
    * two agreeing on at most gcd(Δa, 26) = 2 letters (so ≥3-letter
    * cross-copy shingles stay disjoint). i = 0 is the identity;
    * i = 1..25 are the classic rotations the round-11 generator used.
    * Returned as the 26-char image of "abcdefghijklmnopqrstuvwxyz"
    * for `translate`. Family properties are pinned by ScaleUpSpec. */
  val alpha = "abcdefghijklmnopqrstuvwxyz"
  private val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  val familySize: Int = units.size * 26
  def affineMap(i: Int): String = {
    val a = units((i / 26) % units.size)
    val b = i % 26
    alpha.map(ch => alpha((a * (ch - 'a') + b) % 26)).mkString
  }

  /** Per-copy DIGIT bijection for the NAME columns (c_name/s_name),
    * the ER kernels' blocking input: digit d maps to the LETTER
    * alpha((a·d+b) mod 26) through the same affine family as
    * [[affineMap]]. A character bijection preserves Levenshtein
    * distances and per-block row counts EXACTLY (the documents
    * lesson), where the round-11 token tag ("_c<i>") replaced every
    * copy's last-2-char block key with one shared token — 15k-row
    * mega-blocks per copy that d8's pair cap then DROPPED, so the
    * recorded sf1 "flat" row was measuring a corpus with 90% of its
    * ER work capped away. Family properties (pinned by ScaleUpSpec):
    * injective per copy (10 distinct letters — so the 100 distinct
    * 2-digit name suffixes stay 100 distinct blocks within every
    * copy); disjoint from copy 0's digit suffixes (letters vs
    * digits); for i ≠ j, a distinct-digit suffix pair NEVER collides
    * (Δa·(d1−d2) ≡ 0 mod 26 forces a_j = a_i + 13, which is even —
    * not a unit), and repeated-digit suffixes collide for at most the
    * 11 other multiplier choices. Those two properties cover the SAME
    * suffix across copies; DIFFERENT suffixes from different copies
    * may still land on the same 2-letter image — the image space has
    * only 26² = 676 cells, so beyond ~7 copies the pigeonhole starts
    * merging blocks, and at 100 copies the ~9 000 distinct-digit
    * suffix images load the cells ~14× (measured; pinned by
    * ScaleUpSpec's saturation test). The merge factor grows LINEARLY
    * in the copy count (≈ 90·copies/650) — never the one-mega-block
    * collapse of the token tag — but at sf10 the merged ~2 000-row
    * blocks exceed d8's pair cap and the overflow audit fires (386
    * blocks dropped, reported via overflowReport). That is the
    * operator's designed degenerate-key contract, and arguably the
    * realistic corpus: organically-scaled TPC-H names grow every
    * suffix block linearly too. Decade ratios for d8 beyond sf1
    * therefore measure the CAP's bounded work, not block-bounded ER
    * work — read them with SCALING.md's round-13 note. */
  def digitMap(i: Int): String = {
    val a = units((i / 26) % units.size)
    val b = i % 26
    (0 to 9).map(d => alpha((a * d + b) % 26)).mkString
  }
  val digits = "0123456789"

  /** Per-copy index permutation for the embedding orthogonal
    * transform: j -> (a·j + b) mod dim with a = 2(i%32)+1 (odd, hence
    * a unit mod any power-of-two dim) and b = i/32 — identity at
    * i = 0, pairwise distinct for i < 2048. Family properties pinned
    * by ScaleUpSpec. */
  def embedPerm(i: Int, dim: Int): IndexedSeq[Int] = {
    val a = 2 * (i % 32) + 1
    val b = i / 32
    (0 until dim).map(j => (a * j + b) % dim)
  }

  /** Per-copy sign diagonal (±1) completing the orthogonal transform;
    * all +1 at copy 0 so source rows survive verbatim. */
  def embedSigns(i: Int, dim: Int): IndexedSeq[Float] =
    (0 until dim).map(j =>
      if (i == 0 || ((i * 73 + j * 41) % 97) % 2 == 0) 1.0f else -1.0f)

  def main(args: Array[String]): Unit = {
    val Array(src, dst, copiesS) = args.take(3)
    val copies = copiesS.toInt
    // input-only validation BEFORE any writes: a late failure would
    // leave a partially-tiled destination that looks like a valid SF.
    // The per-copy text bijection family is AFFINE (x -> a·x+b mod 26,
    // a over the 12 units mod 26): 312 distinct maps, and two distinct
    // maps agree on at most gcd(Δa, 26) = 2 letters — so any 5-char
    // cross-copy shingle containing ≥3 letters stays disjoint. Copy 312
    // would repeat the identity and re-create the collision blowup the
    // family exists to prevent.
    require(copies >= 1 && copies <= familySize,
      s"copies=$copies out of [1, $familySize]: the per-copy affine-cipher " +
        s"family has $familySize members — pick <= $familySize copies or extend the perturbation")
    val spark = graft.core.GraftSession.local()
    val cpus = spark.sparkContext.defaultParallelism

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // dims copied verbatim — FK targets, not fact mass
    Seq("region", "nation").foreach(n => write(n, read(n)))

    // Every key's shift base comes from the table that OWNS the key,
    // never from the referencing column's own max: an FK column whose
    // maximum referenced key happens to be unreferenced (TPC-H leaves
    // every custkey ≡ 0 mod 3 orderless) would otherwise shift by a
    // smaller base than its PK and cross-wire copies. One base per key
    // domain keeps every copy a self-consistent universe.
    def keyBase(table: String, key: String): Long =
      read(table).agg(max(col(key))).head().getLong(0) + 1L
    val custBase = keyBase("customer", "c_custkey")
    val suppBase = keyBase("supplier", "s_suppkey")
    val partBase = keyBase("part", "p_partkey")
    val orderBase = keyBase("orders", "o_orderkey")
    val eventBase = keyBase("events", "event_id")
    val docBase = keyBase("documents", "doc_id")

    /** One pass per table: crossJoin a `copies`-row frame, shift each
      * named key by i·(its domain base), preserve column order. */
    def tile(name: String, keys: Seq[(String, Long)],
             extra: DataFrame => DataFrame = identity): Unit = {
      // the driver SFs are single parquet files (one scan partition);
      // spread the SOURCE before the broadcast crossJoin so the
      // copies-× explosion fans out across cores pre-explosion —
      // repartitioning the tiled result instead would shuffle
      // copies-times the bytes for the same parallelism
      val df0 = read(name).repartition(cpus)
      val cols = df0.columns
      val tiled0 = df0.crossJoin(
        broadcast(spark.range(copies.toLong).toDF("__c")))
      val shifted = keys.foldLeft(tiled0) { case (df, (k, m)) =>
        df.withColumn(k, col(k) + col("__c") * lit(m))
      }
      write(name, extra(shifted).select(cols.head, cols.tail: _*))
    }

    // names get the per-copy DIGIT bijection (digits → letters through
    // the affine family): the fuzzy-match/ER kernels block on the
    // last-2 chars, and 10 verbatim copies of every name would merge
    // the blocks into a 100× pair blowup no organic corpus has, while
    // a shared "_c<i>" token suffix (the round-11 tag) is worse in the
    // other direction — it makes the block key ITSELF the tag, fusing
    // each copy's 15k names into one mega-block the pair cap then
    // drops. A character bijection keeps every copy's block-size
    // histogram and Levenshtein structure identical to the source.
    def nameRotated(c: Column): Column =
      (1 until copies).foldLeft(when(col("__c") === 0, c)) { (w, i) =>
        w.when(col("__c") === i, translate(c, digits, digitMap(i)))
      }
    tile("customer", Seq("c_custkey" -> custBase), extra = df =>
      df.withColumn("c_name", nameRotated(col("c_name"))))
    tile("supplier", Seq("s_suppkey" -> suppBase), extra = df =>
      df.withColumn("s_name", nameRotated(col("s_name"))))
    tile("part", Seq("p_partkey" -> partBase))
    tile("orders", Seq("o_orderkey" -> orderBase, "o_custkey" -> custBase))
    tile("lineitem", Seq("l_orderkey" -> orderBase, "l_partkey" -> partBase,
      "l_suppkey" -> suppBase))
    tile("events", Seq("event_id" -> eventBase, "user_id" -> custBase))
    // vec_id lives in the doc_id DOMAIN (sql_extension_fns joins
    // embeddings.vec_id = documents.doc_id), so it must shift by the
    // document base — its own max is smaller (not every doc has a
    // vector) and would cross-wire copies.
    //
    // The VECTORS get a per-copy ORTHOGONAL transform (dimension
    // permutation + sign flips), the geometric analogue of the text
    // bijection: verbatim copies made every vector an exact clone of
    // its 99 siblings, and no hyperplane family or coarse quantizer
    // can separate identical points — every LSH bucket and IVF cell
    // multiplied by the copy count and the within-bucket join went
    // quadratic in the multiplicity (sim_lsh_topk measured 175 s at
    // sf10 AFTER its plane count was made adaptive; the corpus, not
    // the kernel, was the artifact). A permutation+sign matrix Q is
    // orthogonal, so within-copy geometry is EXACT: dot(Qa, Qb) is the
    // same multiset of products as dot(a, b) (fold order differs —
    // ULP-level only), norms and dup clusters are preserved, while
    // cross-copy vectors decorrelate and spread across buckets/cells
    // like an organically grown corpus. Copy 0 is the identity (source
    // rows verbatim). The family (odd multiplier a = 2(i%32)+1 over
    // index map j -> (a·j + i/32) mod dim, sign bits hashed per (i, j))
    // has 2048 distinct permutations — more than familySize.
    val dim = read("embeddings")
      .select(size(col("embedding")).as("d")).head().getInt(0)
    val transforms = {
      val rows = (0 until copies).map { i =>
        (i.toLong, embedPerm(i, dim), embedSigns(i, dim))
      }
      import spark.implicits._
      rows.toDF("__c", "perm", "sig")
    }
    tile("embeddings", Seq("vec_id" -> docBase), extra = df =>
      df.join(broadcast(transforms), "__c")
        .withColumn("embedding", expr(
          s"transform(sequence(0, ${dim - 1}), j -> " +
            "element_at(sig, j + 1) * " +
            "element_at(embedding, element_at(perm, j + 1) + 1))")))
    // documents: per-copy ALPHABET SUBSTITUTION, not token tagging. The
    // dedup kernels shingle CHARACTERS, and any uniform tag string
    // becomes a copy-wide shared shingle fabric that collapses minhash
    // signatures into giant buckets (measured: candidate pairs went
    // 591× for 10× docs under a "_c<i>" token suffix). A per-copy
    // letter bijection preserves within-copy similarity structure
    // EXACTLY (isomorphic shingle sets, identical dup clusters) while
    // keeping cross-copy shingles disjoint, and n_chars/token
    // boundaries don't move. The family is the AFFINE cipher
    // x -> a·x+b mod 26: copies 1..25 are the classic rotations (a=1,
    // identical to the round-11 generator), copies 26+ step the
    // multiplier through the units mod 26, giving 312 bijections where
    // rotation alone gave 26 — two distinct members agree on at most 2
    // letters (gcd(Δa, 26) ≤ 2 for distinct odd a), so a 5-char shingle
    // collides across copies only if it holds ≤2 distinct letters plus
    // non-letters: vanishing measure, vs. the blowup a repeated map
    // would cause on EVERY shingle.
    val rotated = (1 until copies).foldLeft(
        when(col("__c") === 0, col("text"))) { (w, i) =>
      w.when(col("__c") === i, translate(col("text"), alpha, affineMap(i)))
    }
    tile("documents", Seq("doc_id" -> docBase), extra = df =>
      df.withColumn("text", rotated))

    spark.stop()
  }
}

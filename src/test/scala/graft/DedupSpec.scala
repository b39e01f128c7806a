package graft

import java.nio.file.Files
import org.apache.spark.sql.SaveMode

/** Dedup semantics on crafted corpora: exact copies collapse, near
  * duplicates surface through MinHash-LSH and n-gram Jaccard, and
  * unrelated docs stay apart.
  */
class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-dedup").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    val nearDup = base.replace("lazy dog", "sleepy dog") // 1-word edit
    val unrelated = "completely different content about spark query engines and " +
      "distributed columnar execution with whole stage codegen " * 3
    Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src1", base.length.toLong),        // exact dup of 0
      (2L, "  " + base + " ", "en", "src2", base.length + 3L), // ws-normalized dup
      (3L, nearDup, "en", "src3", nearDup.length.toLong),  // near dup of 0
      (4L, unrelated, "en", "src4", unrelated.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    d
  }

  test("exact dedup collapses byte- and whitespace-identical docs") {
    val rows = operators.Dedup.exact(spark, dir).collect()
    assert(rows.length == 3)
    val keeper0 = rows.find(_.getAs[Long]("keeper_doc_id") == 0L).get
    assert(keeper0.getAs[Long]("n_copies") == 3) // docs 0,1,2
  }

  test("minhash LSH surfaces the near duplicate with high est_sim") {
    val pairs = operators.Dedup.minhashLsh(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_sim"))).toSeq
    // exact dups: est_sim = 1.0
    assert(pairs.exists(p => p._1 == 0 && p._2 == 1 && p._3 == 1.0))
    // near dup of 0 must be found with est_sim below 1 but high
    assert(pairs.exists(p => p._1 == 0 && p._2 == 3 && p._3 > 0.5))
    // unrelated doc never pairs
    assert(!pairs.exists(p => p._1 == 4 || p._2 == 4))
  }

  test("ngram jaccard finds the near duplicate exactly") {
    val pairs = operators.Dedup.ngramJaccard(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("jaccard_bp"))).toSeq
    assert(pairs.exists(p => p._1 == 0 && p._2 == 1 && p._3 == 10000))
    val near = pairs.find(p => p._1 == 0 && p._2 == 3)
    assert(near.isDefined && near.get._3 > 5000 && near.get._3 < 10000)
    assert(!pairs.exists(p => p._1 == 4 || p._2 == 4))
  }

  test("d11 incremental LSH: delta doc matched to its best lake near-dup") {
    val rows = operators.Dedup.incrementalLsh(spark, dir).collect()
    assert(rows.length == 1) // delta = doc_id%10==0 = doc 0 only
    val r = rows.head
    assert(r.getAs[Long]("doc_id") == 0L)
    assert(r.getAs[String]("status") == "near_dup_of_index")
    // docs 1 and 2 both match at est_sim 1.0 — smallest id wins
    assert(r.getAs[Long]("dup_of") == 1L)
    assert(r.getAs[Long]("est_sim_bp") == 10000L)
  }

  test("d13 multi-block simhash: exact dups at hamming 0, unrelated apart") {
    val pairs = operators.Dedup.multiblockSimhash(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSeq
    // byte- and whitespace-identical docs: identical fingerprints
    assert(pairs.exists(p => p._1 == 0 && p._2 == 1 && p._3 == 0))
    assert(pairs.exists(p => p._1 == 0 && p._2 == 2 && p._3 == 0))
    // unrelated doc never within hamming 3 of the fox corpus
    assert(!pairs.exists(p => p._1 == 4 || p._2 == 4))
  }

  test("d13 is recall-EXACT for hamming <= 3 (pigeonhole over 4 blocks)") {
    // brute-force all-pairs hamming from the same fingerprints must
    // equal the block-join result EXACTLY — with 4 blocks any pair
    // within hamming 3 shares >= 1 untouched block, so the candidate
    // stage provably loses nothing (unlike d03's half split, which
    // only guarantees hamming <= 1)
    import org.apache.spark.sql.functions._
    val fp = operators.Dedup.multiblockFrame(spark, sf0001)
    val brute = fp.select(col("doc_id").as("doc_a"),
        col("fp0").as("fa0"), col("fp1").as("fa1"))
      .crossJoin(fp.select(col("doc_id").as("doc_b"),
        col("fp0").as("fb0"), col("fp1").as("fb1")))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("fa0").bitwiseXOR(col("fb0")))
          + bit_count(col("fa1").bitwiseXOR(col("fb1")))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = operators.Dedup.multiblockSimhash(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "vacuous: no hamming<=3 pair at sf0.001")
    assert(banded == brute,
      s"banded/brute diverge: missing=${brute -- banded} extra=${banded -- brute}")
  }

  test("d13 widened (b>15, two-word) layout is recall-EXACT too") {
    // the r13 widening's live path: force b = 20 (width 80 — block 1
    // straddles word 0's upper half, blocks 2-3 draw bits 40..79 from
    // BOTH md5 words) on the real corpus and prove the block join
    // still equals brute-force all-pairs hamming
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val fp = operators.Dedup.multiblockFrameOf(docs, 20)
    val brute = fp.select(col("doc_id").as("doc_a"),
        col("fp0").as("fa0"), col("fp1").as("fa1"))
      .crossJoin(fp.select(col("doc_id").as("doc_b"),
        col("fp0").as("fb0"), col("fp1").as("fb1")))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("fa0").bitwiseXOR(col("fb0")))
          + bit_count(col("fa1").bitwiseXOR(col("fb1")))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val keys = operators.Dedup.multiblockCandidatesOf(docs, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "vacuous: no hamming<=3 pair at b=20")
    assert(brute.subsetOf(keys),
      s"pigeonhole broken at b=20: missing=${brute -- keys}")
    // and wider blocks genuinely prune: candidates shrink vs b=15
    val cand15 = operators.Dedup.multiblockCandidatesOf(docs, 15).count()
    assert(keys.size < cand15,
      s"b=20 candidates ${keys.size} not below b=15's $cand15")
  }

  test("d18 incremental clusters: a delta chain merges two lake clusters " +
      "and the fold equals the from-scratch closure") {
    import org.apache.spark.sql.functions.col
    // the ClusterStream gradient corpus under the d10/d11 delta
    // convention (doc_id % 10 == 0 arrives): lake clusters {1,2}=X0
    // and {3,4}=X12 are apart; deltas 10=X3, 20=X6, 30=X9 chain them
    // (delta-lake AND delta-delta edges); 5 / 40 stay singletons
    def xk(k: Int) = (k until k + 20).map(i => s"tk$i").mkString(" ")
    val d = Files.createTempDirectory("graft-d18").toString
    Seq((1L, xk(0)), (2L, xk(0)), (3L, xk(12)), (4L, xk(12)),
      (5L, "completely unrelated standalone lake document"),
      (10L, xk(3)), (20L, xk(6)), (30L, xk(9)),
      (40L, "another unrelated delta text piece"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val out = operators.Dedup.incrementalClusters(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_delta"),
          r.getAs[Boolean]("relabeled")))).toMap
    // one merged component rooted at doc 1
    for (id <- Seq(1L, 2L, 3L, 4L, 10L, 20L, 30L))
      assert(out(id)._1 == 1L, s"doc $id: ${out(id)}")
    // relabeled: lake B moved (3, 4), every chained delta joined;
    // lake A kept its id, singletons untouched
    assert(!out(1L)._3 && !out(2L)._3 && out(3L)._3 && out(4L)._3)
    assert(out(10L)._3 && out(20L)._3 && out(30L)._3)
    assert(out(5L) == ((5L, false, false)) && out(40L) == ((40L, true, false)))
    // and the fold equals d07's from-scratch closure on the same dir
    val full = operators.Dedup.dupClusters(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out.map { case (k, v) => k -> v._1 } == full,
      s"fold diverged from full CC: $out vs $full")
  }

  test("t18 flags cross-split near-dups, ignores same-split ones") {
    val d = Files.createTempDirectory("graft-t18").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    val near = base.replace("lazy dog", "sleepy dog")
    val other = "entirely different words about distributed query engines " * 4
    // md5 split buckets: 0,1,2 -> train; 5,26 -> test
    Seq((0L, base), (5L, near),   // near-dups STRADDLING train/test
      (1L, other), (2L, other),   // exact dups INSIDE train
      (26L, "unrelated tail words and nothing else here at all"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val rows = operators.Dedup.splitLeakage(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[String]("split_a"), r.getAs[String]("split_b"),
        r.getAs[Long]("est_sim_bp"))).toSeq
    // exactly the straddling pair leaks; the in-train dup pair (1,2)
    // is dedup's business (d01/d02), not a leakage finding
    assert(rows.length == 1, rows.toString)
    val leak = rows.head
    assert(leak._1 == 0L && leak._2 == 5L && leak._3 == "train" &&
      leak._4 == "test" && leak._5 >= 5000L, leak.toString)
  }

  test("c08 safe split keeps every near-dup family on one side") {
    // the t18 corpus: under PER-DOC hashing, (0, 5) straddles
    // train/test — t18's finding; c08 assigns per CLUSTER, so the
    // pair cannot straddle
    val d = Files.createTempDirectory("graft-c08").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    val near = base.replace("lazy dog", "sleepy dog")
    val other = "entirely different words about distributed query engines " * 4
    Seq((0L, base), (5L, near), (1L, other), (2L, other),
      (26L, "unrelated tail words and nothing else here at all"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    // the per-doc audit DOES find a straddler here (t18's own spec)
    assert(operators.Dedup.splitLeakage(spark, d).count() == 1)
    val rows = operators.Curation.safeSplit(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[String]("split")))).toMap
    assert(rows.size == 5)
    // every cluster carries exactly one split (the theorem's shape)
    rows.values.groupBy(_._1).foreach { case (cl, vs) =>
      assert(vs.map(_._2).toSet.size == 1, s"cluster $cl splits: $vs") }
    // the formerly-straddling near-dup pair shares cluster AND split
    assert(rows(0L)._1 == rows(5L)._1 && rows(0L)._2 == rows(5L)._2,
      s"${rows(0L)} vs ${rows(5L)}")
    // the exact-dup train pair stays together too
    assert(rows(1L) == rows(2L))
  }

  test("d14 containment catches subset inclusion that Jaccard misses") {
    val d = Files.createTempDirectory("graft-d14").toString
    val long = (1 to 60).map(i => s"w$i").mkString(" ")   // 58 3-shingles
    val quote = (20 to 31).map(i => s"w$i").mkString(" ") // 10 shingles, all in long
    val other = (1 to 30).map(i => s"z$i").mkString(" ")
    Seq((0L, long), (1L, quote), (2L, other))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val cont = operators.Dedup.containment(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("cont_a_bp"), r.getAs[Long]("cont_b_bp"))).toSeq
    // the quote is 100% contained in the long doc (its side hits 10000)
    assert(cont == Seq((0L, 1L, 1724L, 10000L)), cont.toString)
    // symmetric Jaccard on the same corpus misses the pair entirely:
    // J = 10/58 ≈ 0.17 < τ = 0.2 — the structural gap d14 exists for
    val jac = operators.Dedup.ngramJaccard(spark, d).collect()
    assert(jac.isEmpty, jac.mkString(","))
  }

  test("d15 LSH recall audit: identical pair always found, invariants hold") {
    val d = Files.createTempDirectory("graft-d15").toString
    val base = "the quick brown fox jumps over the lazy dog near the river " * 4
    val near = base.replace("lazy dog", "sleepy cat") // high-band true pair
    val other = "entirely different words about distributed query engines " * 4
    Seq((0L, base), (1L, base),  // identical: band 10, every minhash agrees
      (2L, near), (3L, other))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val rows = operators.Dedup.lshRecallAudit(spark, d).collect()
      .map(r => r.getAs[Int]("band") ->
        ((r.getAs[Long]("n_true"), r.getAs[Long]("n_found"),
          r.getAs[Long]("recall_bp")))).toMap
    // bands are similarity deciles of τ-passing pairs: 2..10 only
    assert(rows.keySet.forall(b => b >= 2 && b <= 10), rows.keySet.toString)
    // the planted gate pairs populate deciles 2, 5 and 7 by
    // construction (2 pairs each), so the audit table is multi-band
    // on ANY corpus — the r10 verdict's thin-gate fix
    for (b <- Seq(2, 5, 7))
      assert(rows.get(b).exists(_._1 >= 2L), s"band $b missing: $rows")
    // an identical pair shares every shingle ⇒ every band key ⇒ found
    val (t10, f10, r10) = rows(10)
    assert(t10 >= 1L && f10 == t10 && r10 == 10000L, rows(10).toString)
    rows.values.foreach { case (t, f, bp) =>
      assert(f <= t && bp == f * 10000 / t, (t, f, bp).toString) }
  }

  test("d04 contract df-cap binds: pairs sharing only a stop shingle are excluded") {
    // integer cap rule itself
    assert(operators.Dedup.jaccardDfCap(20) == 8)      // max(8, ceil(log2 20)=5)
    assert(operators.Dedup.jaccardDfCap(5000) == 13)   // sf0.1's binding value
    assert(operators.Dedup.containmentDfCap(5000) == 26)
    val d = Files.createTempDirectory("graft-d04cap").toString
    // 20 docs all opening with the same trigram (df=20 > cap=8);
    // docs 0 and 1 are near-dups (one tail token apart — J = 3/7 ≥ τ,
    // so the candidate stage MUST keep them; r13's length+positional
    // filters prune τ-incapable pairs, so a plant sharing only one
    // rare shingle would rightly vanish here)
    (0 until 20).map { i =>
      val body = if (i < 2) s"shareda sharedb sharedc shared${if (i == 0) "d" else "e"}"
        else s"u${i}a u${i}b u${i}c u${i}d"
      (i.toLong, s"stop stop stop $body")
    }.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    // the stop shingle alone generates no candidates — only the
    // τ-passing near-dup pair survives the capped, filtered join
    val cand = operators.Dedup.ngramJaccardCandidates(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(cand == Set((0L, 1L)), cand.toString)
    // and it genuinely passes τ end-to-end (the plant is no longer a
    // candidate-only artifact)
    val passed = operators.Dedup.ngramJaccard(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(passed == Set((0L, 1L)), passed.toString)
  }

  test("prefix filter (r11 item 2): exact for both consumers, strictly pruning") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // exactness: every τ-passing pair of BOTH consumers appears in
    // its generator's candidate set (the oracle gate proves full
    // output identity vs the UNPRUNED SQL; this pins the same
    // relationship operator-side)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val d04pairs = pairs(operators.Dedup.ngramJaccard(spark, sf0001))
    val d04cand = pairs(operators.Dedup.ngramJaccardCandidates(spark, sf0001))
    assert(d04pairs.nonEmpty && d04pairs.subsetOf(d04cand))
    val d14pairs = pairs(operators.Dedup.containment(spark, sf0001))
    val d14cand = pairs(operators.Dedup.containmentCandidates(spark, sf0001))
    assert(d14pairs.nonEmpty && d14pairs.subsetOf(d14cand))
    // pruning power: the prefix generator emits FEWER pairs than the
    // raw df-capped equi-join it replaces
    val sh = operators.Dedup.shingles(spark, sf0001)
    val cap = operators.Dedup.jaccardDfCap(
      Tables.documents(spark, sf0001).count())
    val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select(col("shingle"))
    val shr = sh.join(rare, "shingle")
    val raw = shr.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(shr.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct().count()
    assert(d04cand.size < raw,
      s"prefix did not prune: ${d04cand.size} vs raw $raw")
    // the verify stage runs the codegen merge kernel, not the
    // per-pair hash-set array_intersect (the r12 regression trap)
    val d04 = operators.Dedup.ngramJaccard(spark, sf0001)
    d04.collect()
    val plan = d04.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("sortedlongintersectcount"),
      s"kernel missing from d04's plan:\n${plan.take(2000)}")
    assert(!plan.contains("array_intersect"),
      "array_intersect crept back into the verify stage")
  }

  test("d11 incremental LSH: unmatched delta doc is kept") {
    val d = Files.createTempDirectory("graft-d11").toString
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val b = "one two three four five six seven eight nine ten eleven " * 4
    Seq((0L, a, "en", "s", a.length.toLong), (1L, b, "en", "s", b.length.toLong),
      (2L, b + " twelve", "en", "s", b.length + 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val rows = operators.Dedup.incrementalLsh(spark, d).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("status") == "kept")
    assert(rows.head.isNullAt(rows.head.fieldIndex("dup_of")))
  }

  test("row-local minhash signature is bit-identical to the batch formulation") {
    import org.apache.spark.sql.functions.col
    def sig16(r: org.apache.spark.sql.Row) =
      (0 until 16).map(i => r.getAs[Long](s"m$i"))
    val batchSig = operators.Dedup.minhashSignatures(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> sig16(r)).toMap
    val rowSig = Tables.documents(spark, dir)
      .select(col("doc_id") +: operators.Dedup.rowMinhashCols(col("text")): _*)
      .collect().map(r => r.getAs[Long]("doc_id") -> sig16(r)).toMap
    assert(batchSig.keySet == rowSig.keySet) // all fixture docs have >=3 tokens
    batchSig.foreach { case (id, s) =>
      assert(rowSig(id) == s, s"signature mismatch for doc $id")
    }
  }

  test("row-local multiblock fingerprint is bit-identical to the batch formulation") {
    import org.apache.spark.sql.functions.col
    // both the adaptive width AND a forced two-word width (b=20):
    // the streaming path must replicate the batch fingerprints at
    // whatever layout the lake froze
    for (bits <- Seq(operators.Dedup.mbDocBits(spark, sf0001), 20)) {
      val batchFp = operators.Dedup
        .multiblockFrameOf(Tables.documents(spark, sf0001), bits)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("fp0"), r.getAs[Long]("fp1"))).toMap
      val rowFp = Tables.documents(spark, sf0001)
        .select(col("doc_id") +:
          operators.Dedup.rowMultiblockFpCols(col("text"), bits): _*)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("fp0"), r.getAs[Long]("fp1"))).toMap
      assert(batchFp.keySet == rowFp.keySet)
      batchFp.foreach { case (id, f) =>
        assert(rowFp(id) == f, s"fingerprint mismatch for doc $id at b=$bits")
      }
    }
  }

  test("d12 semantic dedup: near-identical cellmates drop to the smallest id") {
    // explicit K=2: the corpus-derived default K(6)=10 exceeds n and
    // every cell is a singleton (nothing to compare) — K is a real
    // parameter now, so the spec pins a value that forces cohabitation
    val rows = operators.Dedup.semanticDedup(spark, vecDir, tauBp = 9000,
        kOpt = Some(2))
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[String]("status"), Option(r.getAs[Any]("dup_of"))))
      .toMap
    assert(rows.size == 6)
    assert(rows(0L)._1 == "keeper" && rows(0L)._2.isEmpty)
    // exact dup and tiny perturbation both collapse onto vec 0
    assert(rows(1L) == (("dropped", Some(0L))))
    assert(rows(2L) == (("dropped", Some(0L))))
    // mk(7) and mk(29) are same-frequency sinusoids with a ~2pi-
    // multiple phase gap (cos = 0.9994): v3 assigns to v5's centroid
    // cell and the larger id drops onto the smaller
    assert(rows(3L)._1 == "keeper")
    assert(rows(5L) == (("dropped", Some(3L))))
  }

  /** Writes (s_suppkey, s_name) rows as a supplier table; returns dir. */
  private def mkSupplierDir(names: Seq[String]): String = {
    val d = Files.createTempDirectory("graft-fuzzy").toString
    names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("s_suppkey", "s_name")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/supplier.parquet")
    d
  }

  private def fuzzyPairs(dir: String): Set[(Long, Long, Int)] =
    operators.Dedup.fuzzyMatch(spark, dir)
      .collect().map(r => (r.getAs[Long]("key_a"), r.getAs[Long]("key_b"),
        r.getAs[Int]("edit_dist"))).toSet

  private def brutePairs(dir: String): Set[(Long, Long, Int)] = {
    import org.apache.spark.sql.functions._
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))
    sup.select(col("s_suppkey").as("key_a"), col("s_name").as("name_a"))
      .join(broadcast(sup.select(col("s_suppkey").as("key_b"), col("s_name").as("name_b"))),
        col("key_a") < col("key_b"))
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("edit_dist") <= 3)
      .collect().map(r => (r.getAs[Long]("key_a"), r.getAs[Long]("key_b"),
        r.getAs[Int]("edit_dist"))).toSet
  }

  private def assertSamePairs(dir: String): Set[(Long, Long, Int)] = {
    val blocked = fuzzyPairs(dir)
    val brute = brutePairs(dir)
    assert(blocked == brute, s"blocking changed the result set: " +
      s"missing=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
    blocked
  }

  test("d06 PassJoin blocking is exact: same pairs as the all-pairs formulation") {
    assert(assertSamePairs(sf0001).nonEmpty)
  }

  test("d06 PassJoin is exact under insertions/deletions and mixed lengths") {
    // Adversarial corpus: indels (not just substitutions) shift every
    // later segment, lengths straddle the short/main block boundary,
    // and a shared-prefix family exercises the LCP strip. Includes
    // pairs whose edits are spread to touch 3 of the 4 segments.
    val base = "warehouse logistics gmbh"
    val names = Seq(
      base,                                  // 0
      "Xwarehouse logistics gmbh",           // 1: insert at front (shifts all)
      "warehouse logistics gmb",             // 2: delete at end
      "warehose logistics gmbhXY",           // 3: del mid + 2 inserts at end
      "warehouse lgistics gmbQ",             // 4: del mid + sub near end
      "acme corp",                           // 5: short-side resident
      "acme corpX",                          // 6: lev 1 of 5
      "acme co",                             // 7: lev 2 of 5
      "zzz totally unrelated supplier name", // 8
      "ab",                                  // 9: tiny
      "abq",                                 // 10: lev 1 of 9
      "abqrst"                               // 11: boundary partner of 10
    )
    val pairs = assertSamePairs(mkSupplierDir(names))
    assert(pairs.contains((0L, 1L, 1)) && pairs.contains((0L, 3L, 3)) &&
      pairs.contains((0L, 4L, 2)) && pairs.contains((5L, 7L, 2)) &&
      pairs.contains((9L, 10L, 1)) && pairs.contains((10L, 11L, 3)))
    assert(!pairs.exists(p => p._1 == 8L || p._2 == 8L))
  }

  test("d06 LCP stripping counts code points (supplementary-char prefix)") {
    // all names share a prefix containing 𝄞 (U+1D11E, 2 UTF-16 chars,
    // 1 code point) — a charAt-based LCP length would mis-strip one
    // code point too many through Spark's code-point substr
    val names = Seq(
      "𝄞X vendor alpha one", "𝄞X vendor alpha two",
      "𝄞X vendor beta", "𝄞X something else here")
    assertSamePairs(mkSupplierDir(names))
  }

  test("d06 candidate count collapses on a high-entropy ID corpus (selectivity)") {
    // 400 names with the testdata's shared `Supplier#` prefix but a
    // 12-digit high-entropy tail (deterministic md5 digits): after the
    // LCP strip the PassJoin segments are 3-digit keys, so candidates
    // must be a tiny fraction of the 79,800 unordered pairs.
    val names = (0 until 400).map { i =>
      val digits = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sup$i".getBytes("UTF-8"))
        .map(b => ((b & 0xff) % 10).toString).mkString.take(12)
      s"Supplier#$digits"
    }
    val dir = mkSupplierDir(names)
    val nPairs = names.size.toLong * (names.size - 1) / 2
    val cand = operators.Dedup.fuzzyMatchCandidates(spark, dir).count()
    assert(cand < nPairs / 20,
      s"candidates $cand not << all-pairs $nPairs — blocking lost selectivity")
    assertSamePairs(dir)
  }

  test("d06 on the answer-dense supplier corpus candidates track the output") {
    // sf0.001's `Supplier#00000000N` names strip to 2-char tails and
    // EVERY pair is a true lev≤3 match (45 of 45): no exact scheme can
    // emit fewer candidates than answers, and ours emits exactly them.
    val cand = operators.Dedup.fuzzyMatchCandidates(spark, sf0001).count()
    val answers = fuzzyPairs(sf0001).size
    assert(cand == answers, s"candidates $cand != answers $answers")
  }

  private lazy val vecDir: String = {
    val d = Files.createTempDirectory("graft-vec").toString
    val dim = 64
    def mk(seed: Int): Array[Float] =
      Array.tabulate(dim)(i => math.sin(seed * 31.7 + i * 1.3).toFloat)
    val v0 = mk(1)
    val v1 = v0.clone()                                   // exact dup
    val v2 = v0.zipWithIndex.map { case (x, i) =>         // tiny perturbation
      if (i == 0) x + 0.01f else x }
    Seq((0L, v0, 0), (1L, v1, 0), (2L, v2, 0),
        (3L, mk(7), 1), (4L, mk(13), 1), (5L, mk(29), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/embeddings.parquet")
    d
  }

  test("d05 adaptive band rule: integer-exact log2 and in-bounds layouts") {
    import operators.Dedup.{adaptiveBands, ceilLog2}
    // the power-of-two boundaries a float log2 gets wrong
    assert(ceilLog2(1L) == 0 && ceilLog2(2L) == 1 && ceilLog2(3L) == 2)
    assert(ceilLog2(512L) == 9 && ceilLog2(513L) == 10 && ceilLog2(500L) == 9)
    // gate-relevant sizes: sf0.01 (505 with plants) and sf0.1 (2000)
    val b505 = adaptiveBands(505L)
    assert(b505.length == 7 && b505.forall(_.length == 6), b505.toString)
    val b2000 = adaptiveBands(2000L)
    assert(b2000.length == 8 && b2000.forall(_.length == 8), b2000.toString)
    // every coordinate stays a valid 1-based index into 64 dims, and
    // bands never share a coordinate (disjoint contiguous blocks)
    for (n <- Seq(0L, 1L, 6L, 505L, 2000L, 100000L, 1L << 40)) {
      val bands = adaptiveBands(n)
      val all = bands.flatten
      assert(all.forall(d => d >= 1 && d <= 64), s"n=$n: $bands")
      assert(all.distinct.length == all.length, s"n=$n overlapping: $bands")
      assert(bands.nonEmpty)
    }
  }

  test("d05 LSH bucketing finds exact and near duplicates; pairs ⊆ brute force") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val bucketed = pairs(operators.Dedup.embeddingDup(spark, vecDir))
    val brute = pairs(operators.Dedup.embeddingDupBrute(spark, vecDir))
    // identical vectors share every band bucket — always recalled
    assert(bucketed.contains((0L, 1L)))
    // the ε-perturbed near-dup keeps all coordinate signs — recalled too
    assert(bucketed.contains((0L, 2L)) && bucketed.contains((1L, 2L)))
    // bucketing only ever prunes candidates, never invents pairs
    assert(bucketed.subsetOf(brute))
  }

  test("d09 chunk dedup flags docs whose chunks another doc already has") {
    val d = Files.createTempDirectory("graft-chunk").toString
    val block = (1 to 16).map(i => s"tok$i").mkString(" ")  // 2 full chunks
    val unique = (1 to 16).map(i => s"only$i").mkString(" ")
    Seq(
      (0L, block, "en", "s", 1L),                    // 2/2 chunks shared → drop
      (1L, block + " " + unique, "en", "s", 1L),     // 2/4 shared → keep
      (2L, (1 to 16).map(i => s"own$i").mkString(" "), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val rows = operators.Dedup.chunkDedup(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup_chunks"),
          r.getAs[Boolean]("drop_flag"))).toMap
    assert(rows(0L) == ((2L, 2L, true)))
    assert(rows(1L) == ((4L, 2L, false)))
    assert(rows(2L) == ((2L, 0L, false)))
  }

  test("d10 incremental dedup classifies delta docs against batch and index") {
    val d = Files.createTempDirectory("graft-incr").toString
    // index docs: 1, 3 (doc_id % 10 != 0); delta: 0, 10, 20, 30
    Seq(
      (1L, "already in the lake", "en", "s", 1L),
      (3L, "some other indexed doc", "en", "s", 1L),
      (0L, "already in the lake", "en", "s", 1L),   // dup_of_index
      (10L, "fresh delta content", "en", "s", 1L),  // kept
      (20L, "fresh delta content", "en", "s", 1L),  // dup_in_batch of 10
      (30L, "unique new arrival", "en", "s", 1L))   // kept
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    val rows = operators.Dedup.incrementalDedup(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(rows == Map(0L -> "dup_of_index", 10L -> "kept",
      20L -> "dup_in_batch", 30L -> "kept"))
  }

  test("d08 keep-best retains the highest-quality copy per content group") {
    val rows = operators.Dedup.keepBest(spark, dir).collect()
    // same content groups as d01 (3 groups), but the keeper is chosen
    // by quality — for the 0/1/2 group all copies have near-identical
    // text so quality ties and the smallest id wins
    assert(rows.length == 3)
    val g0 = rows.find(_.getAs[Long]("n_copies") == 3).get
    assert(g0.getAs[Long]("keeper_doc_id") == 0L)
    assert(g0.getAs[Long]("best_quality_bp") > 0)
    // cross-check: every keeper's quality equals the max over its group
    val quality = operators.TextOps.qualityScore(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        math.round(r.getAs[Double]("quality") * 10000)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("best_quality_bp") ==
        quality(r.getAs[Long]("keeper_doc_id")))
    }
  }

  test("d07 clusters connect exact+near dups transitively; singletons keep own id") {
    val rows = operators.Dedup.dupClusters(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toMap
    assert(rows.size == 5)
    // docs 0,1,2 (exact/ws dups) and 3 (near dup, est_sim>0.5) collapse
    // into the min-id cluster 0 — transitivity through shared pairs
    assert(rows(0L) == 0L && rows(1L) == 0L && rows(2L) == 0L && rows(3L) == 0L)
    // the unrelated doc stays its own cluster
    assert(rows(4L) == 4L)
  }

  test("d07 reliable checkpoint (spark.graft.checkpointDir): same clusters, files on disk") {
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", ckpt)
    try {
      // d07's edges through the distributed components path directly:
      // at this size d07 itself takes the driver path, which writes no
      // checkpoints
      val lbl = operators.Dedup.distributedComponents(
          operators.Dedup.dupEdges(spark, dir))
        .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("lbl")))
        .toMap
      val rows = (0L to 4L).map(d => d -> lbl.getOrElse(d, d)).toMap
      // identical labels to the localCheckpoint path (oracle-checked)
      assert(rows == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L))
      // and the lineage truncation really went through reliable storage
      val walk = Files.walk(java.nio.file.Paths.get(ckpt))
      val nFiles = try walk.filter(p => Files.isRegularFile(p)).count()
                   finally walk.close()
      assert(nFiles > 0, "no checkpoint files written under spark.graft.checkpointDir")
      // superseded per-iteration label checkpoints are deleted as the
      // loop advances: what survives is O(1) per run, not
      // O(iterations). The context cleaner never removes these unless
      // cleanCheckpoints was set at context creation.
      val rddWalk = Files.walk(java.nio.file.Paths.get(ckpt))
      val nRddDirs = try rddWalk
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
        .count()
      finally rddWalk.close()
      assert(nRddDirs <= 4,
        s"$nRddDirs rdd-* checkpoint dirs left behind — superseded " +
          "per-iteration checkpoints are not being cleaned")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("simhash hamming distance: dups at 0, near-dups small, unrelated apart") {
    val pairs = operators.Dedup.simhash(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSeq
    assert(pairs.exists(p => p._1 == 0 && p._2 == 1 && p._3 == 0))
    assert(pairs.filter(p => p._2 == 3 || p._1 == 3).forall(_._3 <= 8))
    assert(!pairs.exists(p => p._1 == 4 || p._2 == 4))
  }

  test("c03 corpus card: total row sums sources, corpus-wide dup share") {
    val rows = operators.Curation.corpusCard(spark, dir).collect()
    val bySrc = rows.map(r => r.getAs[String]("source") -> r).toMap
    // 5 one-doc sources + the ALL total
    assert(rows.length == 6)
    val all = bySrc("ALL")
    assert(all.getAs[Long]("n_docs") == 5L)
    assert(all.getAs[Long]("n_docs") ==
      rows.filter(_.getAs[String]("source") != "ALL")
        .map(_.getAs[Long]("n_docs")).sum)
    // docs 0,1,2 normalize to the same content (src0/src1/src2) —
    // duplication is corpus-WIDE, so each of those source rows
    // surfaces its doc as duplicated even though it is unique
    // within its own source
    assert(all.getAs[Long]("n_dup_docs") == 3L)
    assert(all.getAs[Long]("dup_bp") == 6000L)
    Seq("src0", "src1", "src2").foreach { s =>
      assert(bySrc(s).getAs[Long]("n_dup_docs") == 1L, s)
      assert(bySrc(s).getAs[Long]("dup_bp") == 10000L, s)
    }
    assert(bySrc("src4").getAs[Long]("n_dup_docs") == 0L)
  }

  test("t33 semantic decontam: plants flagged cross-split with best bench match") {
    val out = operators.Dedup.semanticDecontam(spark, sf0001).collect()
    // the three train-side plants report their bench source as best match
    val plants = out
      .filter(_.getAs[Long]("vec_id") >= operators.Dedup.GatePlantOffset)
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dup_of")))
    assert(plants.toSet ==
      Set((10000001L, 0L), (10000051L, 50L), (10000101L, 100L)), plants.toSeq)
    // flags are cross-split by construction: train vec, benchmark match
    assert(out.forall(r => r.getAs[Long]("vec_id") % 50 != 0 &&
      r.getAs[Long]("dup_of") % 50 == 0))
    assert(out.forall(_.getAs[Long]("cos_bp") >= 9000))
  }

  test("d16 bloom gate: no false negatives, all regimes populated") {
    val out = operators.Dedup.bloomGate(spark, sf0001).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // every delta row; plants included
    assert(out.forall(_.getAs[Long]("doc_id") % 10 == 0))
    assert(out.forall { r =>
      val h = r.getAs[Long]("n_hit"); h >= 0L && h <= 3L
    })
    // a bloom filter has NO false negatives: exact_dup ⇒ bloom_hit
    assert(out.forall(r =>
      !r.getAs[Boolean]("exact_dup") || r.getAs[Boolean]("bloom_hit")))
    // false_positive is exactly bloom_hit ∧ ¬exact_dup
    assert(out.forall(r => r.getAs[Boolean]("false_positive") ==
      (r.getAs[Boolean]("bloom_hit") && !r.getAs[Boolean]("exact_dup"))))
    // the planted lake twin is the guaranteed exact-dup regime
    val dup = byId(1000000010L)
    assert(dup.getAs[Boolean]("bloom_hit") && dup.getAs[Boolean]("exact_dup")
      && !dup.getAs[Boolean]("false_positive"))
    assert(!byId(1000000020L).getAs[Boolean]("exact_dup"))
    // the deliberately-undersized bloom populates the FP regime at
    // every test SF (measured: 4 at sf0.001)
    assert(out.exists(_.getAs[Boolean]("false_positive")))
    // and misses exist too — the gate actually filters
    assert(out.exists(r => !r.getAs[Boolean]("bloom_hit")))
  }

  test("d17 LSH precision: verification can only raise precision, " +
      "never invent true pairs") {
    val out = operators.Dedup.lshPrecisionAudit(spark, sf0001).collect()
      .map(r => r.getAs[String]("stage") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_true"),
          r.getAs[Long]("precision_bp")))).toMap
    assert(out.keySet == Set("1_candidate", "2_verified"), out.toString)
    val (cp, ct, cb) = out("1_candidate")
    val (vp, vt, vb) = out("2_verified")
    // verified ⊆ candidates, true-hits can only be kept or lost
    assert(vp <= cp && vt <= ct, out.toString)
    // the verifier's whole point: precision never drops
    assert(vb >= cb, out.toString)
    // the planted identical pairs keep both stages populated (they
    // band-collide with 16/16 matches) on any corpus
    assert(vp >= 1L && cp >= 1L, out.toString)
    assert(out.values.forall { case (p, t, bp) =>
      bp == t * 10000L / p && t <= p })
  }
}

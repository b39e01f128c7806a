package graft

import java.sql.Date
import graft.functions.{Parse, Text, Vector}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Property-style checks over seeded random inputs: parsers
  * round-trip generated values, sketches respect their contracts.
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private val rnd = new Random(42)

  test("parseFloat round-trips comma-grouped currency strings") {
    val cases = (0 until 200).map { _ =>
      val cents = math.abs(rnd.nextLong() % 10000000000L)
      val whole = (cents / 100).toString.reverse.grouped(3)
        .mkString(",").reverse
      (cents / 100.0, f"$$$whole.${cents % 100}%02d")
    }
    val out = cases.map(_._2).toDF("s")
      .select(Parse.parseFloat(col("s"))).collect().map(_.getDouble(0))
    assert(out.toSeq == cases.map(_._1))
  }

  test("parseDateMulti inverts all five reference formats") {
    val dates = (0 until 100).map { _ =>
      Date.valueOf(f"${1940 + rnd.nextInt(91)}%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d")
    }
    val df = dates.map(Tuple1(_)).toDF("d")
    Seq("MMM d, yyyy", "MMMM d, yyyy", "yyyy-MM-dd", "dd-MM-yyyy", "M/d/yyyy")
      .foreach { f =>
        val out = df.select(
          Parse.parseDateMulti(date_format(col("d"), f)).as("p"), col("d"))
          .collect()
        assert(out.forall(r => r.getDate(0) == r.getDate(1)), s"format $f")
      }
  }

  test("findDate recovers any dd-MM-yy date planted in prose") {
    val dates = (0 until 100).map { _ =>
      Date.valueOf(f"${1940 + rnd.nextInt(91)}%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d")
    }
    // two-digit years are ambiguous: the scanner maps yy<=30 → 2000s,
    // else 1900s — mirror that expectation
    val df = dates.map(Tuple1(_)).toDF("d")
    val out = df.select(
      Parse.findDate(concat(lit("note before "),
        date_format(col("d"), "dd-MM-yy"), lit(" after"))).as("found"),
      col("d")).collect()
    out.foreach { r =>
      val orig = r.getDate(1).toLocalDate
      val yy = orig.getYear % 100
      val expectedYear = if (yy <= 30) 2000 + yy else 1900 + yy
      val found = r.getDate(0).toLocalDate
      assert(found.getYear == expectedYear &&
        found.getMonthValue == orig.getMonthValue &&
        found.getDayOfMonth == orig.getDayOfMonth, s"$orig -> $found")
    }
  }

  test("fingerprint is order-sensitive") {
    val docs = (0 until 50).map { _ =>
      (0 until 8).map(_ => Random.alphanumeric.take(1 + rnd.nextInt(6)).mkString)
    }.filter(ws => ws != ws.reverse)
    val rows = docs.flatMap(ws => Seq(ws.mkString(" "), ws.reverse.mkString(" ")))
    val out = rows.toDF("text")
      .select(Text.fingerprint(col("text"))).collect().map(_.getLong(0))
    docs.indices.foreach { i =>
      assert(out(2 * i) != out(2 * i + 1), s"permutation collision at $i")
    }
  }

  test("monthNameDate round-trips random dates in upper/lower/title case") {
    val dates = (0 until 100).map { _ =>
      Date.valueOf(f"${1940 + rnd.nextInt(91)}%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d")
    }
    val df = dates.map(Tuple1(_)).toDF("d")
    Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      upper _, lower _, identity _).foreach { caseFn =>
      val out = df.select(
        Parse.monthNameDate(concat(lit("due by "),
          caseFn(date_format(col("d"), "MMMM d, yyyy")), lit(" sharp"))).as("p"),
        col("d")).collect()
      assert(out.forall(r => r.getDate(0) == r.getDate(1)))
    }
  }

  test("sequence packing invariant: offsets stay within capacity and chain") {
    val rows = operators.TextOps.sequencePack(spark, sf0001, capacity = 512)
      .collect()
      .map(r => ((r.getAs[String]("lang"), r.getAs[Long]("shard_id")),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("bin_id"), r.getAs[Long]("bin_offset")))
    assert(rows.nonEmpty)
    assert(rows.map(_._1._2).distinct.length > 1, "sub-sharding inactive")
    rows.groupBy(_._1).foreach { case (_, shard) =>
      val sorted = shard.sortBy(_._2)
      var cum = 0L
      sorted.foreach { case (_, _, n, bin, off) =>
        assert(bin == cum / 512 && off == cum % 512)
        cum += n
      }
    }
  }

  test("stratified sample rates land near their targets") {
    val docs = Tables.documents(spark, sf0001)
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = operators.TextOps.stratifiedSample(spark, sf0001)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Map("en" -> 0.50, "de" -> 0.25, "es" -> 0.25)
    want.foreach { case (lang, rate) =>
      val total = byLang.getOrElse(lang, 0L)
      if (total >= 50) {
        val got = sampled.getOrElse(lang, 0L).toDouble / total
        // md5 buckets are uniform; allow generous sampling noise
        assert(math.abs(got - rate) < 0.15, s"$lang: got $got want $rate")
      }
    }
    // determinism: a second run is bit-identical
    val again = operators.TextOps.stratifiedSample(spark, sf0001)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val first = operators.TextOps.stratifiedSample(spark, sf0001)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again == first)
  }

  test("t17 invariants on the real corpus: conservation, subsequence, no surviving hit") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.split("\\s+").toSeq).toMap
    val out = operators.TextOps.contaminationExcise(spark, sf0001).collect()
    assert(out.nonEmpty)
    // the benchmark 4-gram set, recomputed independently
    val bench = docs.filter(_._1 % 50 == 0).values
      .flatMap(t => t.sliding(4).filter(_.size == 4).map(_.mkString(" "))).toSet
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val orig = docs(id)
      val kept = r.getAs[String]("clean_text") match {
        case "" => Seq.empty[String]; case s => s.split(" ").toSeq
      }
      // conservation: kept + removed == original token count
      assert(kept.size + r.getAs[Long]("n_removed") == orig.size, s"doc $id")
      // kept tokens are an in-order subsequence of the original
      var i = 0
      kept.foreach { t =>
        i = orig.indexOf(t, i); assert(i >= 0, s"doc $id: '$t' out of order"); i += 1
      }
      // no ORIGINAL contaminated occurrence survives: every original
      // 4-gram window that matched the benchmark must be gone from
      // the kept positions. (Seam grams — NEW 4-grams formed where a
      // removed span stitched its neighbors together — are possible
      // by construction; production iterates to a fixpoint. The
      // operator's guarantee is on original occurrences.)
      if (r.getAs[Int]("n_spans") == 0)
        assert(kept == orig, s"doc $id: untouched doc must round-trip")
    }
    // the flagged docs agree with an independent recomputation
    val contaminated = out.filter(_.getAs[Int]("n_spans") > 0)
      .map(_.getAs[Long]("doc_id")).toSet
    val expect = docs.filter { case (id, t) => id % 50 != 0 &&
      t.sliding(4).filter(_.size == 4).exists(g => bench(g.mkString(" "))) }.keySet
    assert(contaminated == expect,
      s"missing=${expect -- contaminated} extra=${contaminated -- expect}")
  }

  test("t19 invariants on the real corpus: conservation, subsequence, canonical survival") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.split("\\s+").toSeq).toMap
    val out = operators.TextOps.selfDedup(spark, sf0001).collect()
    assert(out.length == docs.size)
    // independent recomputation of the duplicated-window occurrence set
    val occ = docs.toSeq.flatMap { case (id, t) =>
      t.sliding(8).filter(_.size == 8).zipWithIndex
        .map { case (w, i0) => (w.mkString(" "), id, i0 + 1L) }
    }
    val byWin = occ.groupBy(_._1).filter(_._2.size >= 2)
    val excisedDocs = byWin.values.flatMap { os =>
      val canon = os.map { case (_, id, i) => id * 1000000L + i }.min
      os.collect { case (_, id, i) if id * 1000000L + i != canon => id }
    }.toSet
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val orig = docs(id)
      val kept = r.getAs[String]("clean_text") match {
        case "" => Seq.empty[String]; case s => s.split(" ").toSeq
      }
      assert(kept.size + r.getAs[Long]("n_removed") == orig.size, s"doc $id")
      var i = 0
      kept.foreach { t =>
        i = orig.indexOf(t, i); assert(i >= 0, s"doc $id: '$t' out of order"); i += 1
      }
      if (r.getAs[Int]("n_spans") == 0)
        assert(kept == orig, s"doc $id: untouched doc must round-trip")
    }
    // exactly the docs owning a non-canonical duplicated occurrence
    // get spans excised — and docs whose ONLY occurrences are
    // canonical keep every token (first-occurrence survival)
    val flagged = out.filter(_.getAs[Int]("n_spans") > 0)
      .map(_.getAs[Long]("doc_id")).toSet
    assert(flagged == excisedDocs,
      s"missing=${(excisedDocs -- flagged).take(5)} extra=${(flagged -- excisedDocs).take(5)}")
  }

  test("d13/d14 pair invariants on the real corpus") {
    val mb = operators.Dedup.multiblockSimhash(spark, sf0001).collect()
    assert(mb.nonEmpty)
    mb.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val h = r.getAs[Int]("hamming")
      assert(h >= 0 && h <= 3, r.toString)
    }
    val ct = operators.Dedup.containment(spark, sf0001).collect()
    assert(ct.nonEmpty)
    ct.foreach { r =>
      val (a, b) = (r.getAs[Long]("cont_a_bp"), r.getAs[Long]("cont_b_bp"))
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      // containment degrees are valid fractions and τ holds on the
      // better side
      assert(a >= 0 && a <= 10000 && b >= 0 && b <= 10000, r.toString)
      assert(a >= 8000 || b >= 8000, r.toString)
    }
  }

  test("banded levAtMost agrees with full levenshtein on random pairs") {
    val alpha = "abcde" // small alphabet → many near-misses
    def word() = (0 until 1 + rnd.nextInt(12))
      .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val pairs = (0 until 400).map(_ => (word(), word()))
    (0 to 4).foreach { k =>
      val out = pairs.toDF("a", "b").select(
        Text.levAtMost(col("a"), col("b"), k).as("banded"),
        levenshtein(col("a"), col("b")).as("full")).collect()
      out.foreach { r =>
        val (banded, full) = (r.getInt(0), r.getInt(1))
        if (full <= k) assert(banded == full, s"k=$k: $banded vs $full")
        else assert(banded == -1, s"k=$k: expected -1, got $banded (full=$full)")
      }
    }
  }

  test("d06 PassJoin is exact on randomized corpora with random edits") {
    // seeded random base names (lengths straddle the short/main block
    // boundary after LCP stripping) plus variants built from 0-4
    // random insert/delete/substitute edits — the blocked result must
    // equal all-pairs levenshtein ≤ 3 exactly, every time
    val alpha = "abcdefgh"
    def word(len: Int) =
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (0 until edits).foreach { _ =>
        val op = rnd.nextInt(3)
        val pos = if (cur.isEmpty) 0 else rnd.nextInt(cur.length)
        cur = op match {
          case 0 if cur.nonEmpty => cur.patch(pos, "", 1) // delete
          case 1 => cur.patch(pos, word(1), 0)            // insert
          case _ if cur.nonEmpty => cur.patch(pos, word(1), 1) // substitute
          case _ => cur + word(1)
        }
      }
      cur
    }
    val names = (0 until 60).flatMap { _ =>
      val base = word(3 + rnd.nextInt(12))
      base +: (0 until rnd.nextInt(3)).map(_ => mutate(base, 1 + rnd.nextInt(4)))
    }
    val dir = mkSupplierDirPub(names)
    val blocked = operators.Dedup.fuzzyMatch(spark, dir)
      .collect().map(r => (r.getAs[Long]("key_a"), r.getAs[Long]("key_b"),
        r.getAs[Int]("edit_dist"))).toSet
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))
    val brute = sup.select(col("s_suppkey").as("key_a"), col("s_name").as("name_a"))
      .join(broadcast(sup.select(col("s_suppkey").as("key_b"),
        col("s_name").as("name_b"))), col("key_a") < col("key_b"))
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("edit_dist") <= 3)
      .collect().map(r => (r.getAs[Long]("key_a"), r.getAs[Long]("key_b"),
        r.getAs[Int]("edit_dist"))).toSet
    assert(blocked == brute,
      s"missing=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
    assert(brute.nonEmpty) // the corpus genuinely contains near pairs
  }

  private def mkSupplierDirPub(names: Seq[String]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-pj").toString
    names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("s_suppkey", "s_name")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$d/supplier.parquet")
    d
  }

  test("levAtMost counts supplementary (non-BMP) characters as one edit") {
    // 𝄞 (U+1D11E) is two UTF-16 chars but ONE code point — the unit
    // Spark's levenshtein and DuckDB measure in
    val pairs = Seq(
      ("a𝄞b", "ab"),      // delete the clef: distance 1
      ("a𝄞b", "aXb"),     // substitute it: distance 1
      ("𝄞", "𝄞")) // equal: distance 0
    val out = pairs.toDF("a", "b").select(
      Text.levAtMost(col("a"), col("b"), 3).as("banded"),
      levenshtein(col("a"), col("b")).as("full")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"banded=${r.getInt(0)} full=${r.getInt(1)}"))
  }

  test("cosine is symmetric and bounded") {
    val vecs = (0 until 50).map { _ =>
      (Array.fill(16)(rnd.nextFloat() * 20 - 10),
        Array.fill(16)(rnd.nextFloat() * 20 - 10))
    }
    val out = vecs.toDF("a", "b").select(
      Vector.cosine(col("a"), col("b")).as("ab"),
      Vector.cosine(col("b"), col("a")).as("ba")).collect()
    out.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(0) >= -1.0000001 && r.getDouble(0) <= 1.0000001)
    }
  }

  test("d16 bloom gate never false-negatives on random corpora with " +
      "planted cross-split duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prop-bloom")
      .toString
    def doc(): String =
      (0 until 5 + rnd.nextInt(30)).map(_ => s"w${rnd.nextInt(400)}")
        .mkString(" ")
    // lake docs (ids ≡ 1..9 mod 10) + delta docs (ids ≡ 0), a third
    // of which copy a random lake doc's text verbatim
    val lake = (0 until 90).map(i => (i * 10L + 1 + (i % 9), doc()))
    val delta = (0 until 30).map { i =>
      val t = if (i % 3 == 0) lake(rnd.nextInt(lake.size))._2 else doc()
      (1000L + i * 10L, t)
    }
    val planted = delta.filter(d => lake.exists(_._2 == d._2))
      .map(_._1).toSet
    (lake ++ delta).map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = operators.Dedup.bloomGate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("bloom_hit"), r.getAs[Boolean]("exact_dup"))))
      .toMap
    assert(planted.nonEmpty)
    // every planted duplicate is caught by BOTH the filter and the
    // exact check, and no exact dup anywhere escapes the bloom
    planted.foreach(id => assert(out(id) == ((true, true)), s"doc $id"))
    out.foreach { case (id, (hit, ex)) => assert(!ex || hit, s"doc $id") }
  }

  test("SortedLongIntersectCount equals set intersection on random sorted arrays") {
    val cases = (0 until 300).map { _ =>
      def arr() = Seq.fill(rnd.nextInt(40))(rnd.nextLong() % 50)
        .distinct.sorted
      (arr(), arr())
    }
    val out = cases.toDF("a", "b")
      .select(Vector.sortedIntersectCount(col("a"), col("b")))
      .collect().map(_.getLong(0))
    val exp = cases.map { case (a, b) => (a.toSet & b.toSet).size.toLong }
    assert(out.toSeq == exp, "merge-count diverged from set intersection")
  }

  test("d04's prefix-filtered pipeline equals a full Scala re-derivation on random corpora") {
    // the pigeonhole exactness claim, independently re-derived: build
    // a random corpus with planted near-dup pairs, run the PRUNED
    // operator, compare against a brute-force capped-Jaccard in Scala
    // over the same shingle definition (every pair, no prefix, no
    // hashing) — pairs AND inter/union/bp values must match
    val dir = java.nio.file.Files.createTempDirectory("graft-prop-d04")
      .toString
    val pool = (0 until 40).map(i => s"w$i")
    def randDoc(): Seq[String] =
      Seq.fill(8 + rnd.nextInt(12))(pool(rnd.nextInt(pool.length)))
    val base = (0 until 50).map(i => i.toLong -> randDoc())
    // plant near-dups: doc 100+i = doc i with one token appended
    val planted = (0 until 8).map(i =>
      (100L + i) -> (base(i)._2 :+ s"extra$i"))
    val docs = base ++ planted
    docs.map { case (id, ts) =>
      (id, ts.mkString(" "), "en", "s", ts.mkString(" ").length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = operators.Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("inter"), r.getAs[Long]("union_sz"),
          r.getAs[Long]("jaccard_bp")))).toMap
    // Scala re-derivation of the d04 contract
    val sh = docs.map { case (id, ts) =>
      id -> ts.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet }
      .filter(_._2.nonEmpty).toMap
    val cap = operators.Dedup.jaccardDfCap(docs.size.toLong)
    val dfCount = sh.values.flatten.groupBy(identity).view
      .mapValues(_.size).toMap
    val rare = sh.map { case (id, s2) =>
      id -> s2.filter(dfCount(_) <= cap) }
    val ids = sh.keys.toSeq.sorted
    val exp = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      (a, b) = (ids(i), ids(j))
      inter = (rare(a) & rare(b)).size.toLong if inter >= 1
      uni = sh(a).size + sh(b).size - inter
      if inter * 5 >= uni
    } yield (a, b) -> ((inter, uni,
      math.floor(inter * 10000.0 / uni).toLong))).toMap
    assert(exp.nonEmpty && got == exp,
      s"pruned pipeline diverged: got ${got.size} vs exact ${exp.size}")
  }

  test("t36 FRE stays clamped and re-derives row-wise on random text") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prop-t36")
      .toString
    val alphabet = "abcdefgxyz.!? "
    def noisy(): String =
      (0 until 20 + rnd.nextInt(200))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val docs = (0 until 120).map(i => (i.toLong, noisy()))
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val byId = docs.toMap
    val out = operators.TextOps.readabilityFrame(spark, dir).collect()
    assert(out.length == docs.size)
    out.foreach { r =>
      val t = byId(r.getAs[Long]("doc_id"))
      val w = t.trim.split("\\s+").length.toLong
      val sents = math.max("[.!?]+".r.findAllIn(t.trim).length.toLong, 1L)
      val syll = "[aeiouy]+".r.findAllIn(t.trim.toLowerCase).length.toLong
      val fre = math.max(0L, math.min(206835L,
        206835L - 1015L * w / sents - 84600L * syll / w))
      assert(r.getAs[Long]("fre_milli") == fre, s"doc ${r.get(0)}")
      assert(fre >= 0L && fre <= 206835L)
    }
  }

  /** Min-label components per tag by breadth-first search: the plain
    * reference both Dedup.components paths must equal.
    */
  private def bfsLabels(edges: Seq[(Int, Long, Long)]): Set[(Int, Long, Long)] =
    edges.groupBy(_._1).toSeq.flatMap { case (g, es) =>
      val adj = es.flatMap(e => Seq(e._2 -> e._3, e._3 -> e._2))
        .groupMap(_._1)(_._2)
      val seen = scala.collection.mutable.Set.empty[Long]
      adj.keys.toSeq.flatMap { start =>
        if (seen(start)) Nil
        else {
          seen += start
          val comp = scala.collection.mutable.ArrayBuffer(start)
          var i = 0
          while (i < comp.length) {
            adj(comp(i)).foreach(n => if (seen.add(n)) comp += n)
            i += 1
          }
          comp.toSeq.map(n => (g, n, comp.min))
        }
      }
    }.toSet

  test("components: driver union-find and distributed loop equal BFS on random graphs") {
    val ids = rnd.shuffle((1L to 400L).toVector)
    def flip(a: Long, b: Long) = if (rnd.nextBoolean()) (a, b) else (b, a)
    // g0: a 70-hop chain over shuffled ids (longer than the 50-round
    // cap if labels moved one hop per round); g1: three stars; g2: a
    // sparse random graph; g3: reuses g0's ids with other edges, so
    // tags must keep graphs apart. Every graph gets duplicate and
    // reversed copies of some of its edges.
    val chain = (0 until 70).map(i => flip(ids(i), ids(i + 1)))
    val stars = (0 until 3).flatMap { c =>
      (1 to 10).map(j => flip(ids(100 + c * 11), ids(100 + c * 11 + j)))
    }
    val sparse = (0 until 40).map(_ =>
      flip(ids(200 + rnd.nextInt(60)), ids(200 + rnd.nextInt(60))))
    val reuse = (0 until 20).map(_ => flip(ids(rnd.nextInt(71)), ids(300 + rnd.nextInt(5))))
    val base = Seq(0 -> chain, 1 -> stars, 2 -> sparse, 3 -> reuse)
      .flatMap { case (g, es) => es.map { case (a, b) => (g, a, b) } }
    val edges = base ++ rnd.shuffle(base).take(30).map(e =>
      if (rnd.nextBoolean()) e else (e._1, e._3, e._2))
    val df = rnd.shuffle(edges).toDF("g", "x", "y")
    def labels(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val want = bfsLabels(edges)
    assert(labels(operators.Dedup.driverComponents(df, df.collect())) == want)
    assert(labels(operators.Dedup.distributedComponents(df)) == want)
    assert(labels(operators.Dedup.components(df)) == want)
    val empty = df.limit(0)
    assert(operators.Dedup.driverComponents(empty, Array.empty).isEmpty)
    assert(operators.Dedup.distributedComponents(empty).isEmpty)
  }

  test("building d07 and d18 persists no RDD and leaves the session conf alone") {
    // the first build caches the session's minhash signatures, which
    // both operators share; a second build must add nothing
    operators.Dedup.dupClustersFrame(spark, sf0001)
    operators.Dedup.incrementalClusters(spark, sf0001)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val conf = spark.conf.getAll
    operators.Dedup.dupClustersFrame(spark, sf0001)
    operators.Dedup.incrementalClusters(spark, sf0001)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    assert(spark.conf.getAll == conf)
  }

  test("ClusterStream fold equals batch d07 on seeded token-gradient deliveries") {
    import graft.streaming.ClusterStream
    val r = new Random(11)
    // X(o) = 20 consecutive tokens from offset o: docs 3 offsets apart
    // band-collide, 12 apart share no band (StreamingSpec's fixture).
    // Six chains over disjoint token ranges; each kept chain position
    // holds one or two docs of the lake (0) or of delivery 1–3, so
    // links fall within a delivery, across deliveries and between lake
    // clusters. Unrelated docs and a 2-token doc (no signature) ride
    // along.
    def x(o: Int) = (o until o + 20).map(i => s"tk$i").mkString(" ")
    val texts = (0 until 6).flatMap(c => (0 until 8).filter(_ => r.nextInt(4) > 0)
        .flatMap(j => Seq.fill(1 + r.nextInt(2))(x(100 * c + 3 * j)))) ++
      (0 until 6).map(i => s"lonely standalone words number $i here") :+ "tiny doc"
    val ids = r.shuffle((1L to texts.length.toLong).toVector)
    val docs = texts.indices.map(i => (ids(i), texts(i), r.nextInt(4)))
    val own = docs.map(d => d._1 -> d._3).toMap
    def frame(n: Int*) = docs.filter(d => n.contains(d._3))
      .map { case (id, t, _) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def dirOf(df: org.apache.spark.sql.DataFrame) = {
      val d = java.nio.file.Files.createTempDirectory("graft-clsp").toString
      df.write.parquet(s"$d/documents.parquet")
      d
    }
    def read(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(row => row.getAs[Long]("doc_id") -> row.getAs[Long]("cluster_id")).toMap
    val store = java.nio.file.Files.createTempDirectory("graft-clsp").toString + "/st"
    ClusterStream.build(spark, dirOf(frame(0)), store)
    val seed = read(ClusterStream.labels(spark, store))
    ClusterStream.foldBatch(frame(1), store, 0L)
    ClusterStream.foldBatch(frame(2), store, 1L)
    // delivery 3 as two doc_id slices: the over-bound path
    ClusterStream.writeSignatures(frame(3), store, 2L)
    ClusterStream.foldSlice(frame(3), store, 2L, 0L)
    ClusterStream.foldSlice(frame(3), store, 2L, 1L)
    val batch = read(operators.Dedup.dupClusters(spark, dirOf(frame(0, 1, 2, 3))))
    val folded = read(ClusterStream.labels(spark, store))
    assert(folded == batch, s"fold/batch diverged: fold=$folded batch=$batch")
    ClusterStream.foldBatch(frame(2), store, 1L)
    assert(read(ClusterStream.labels(spark, store)) == folded,
      "re-delivery moved the labeling")
    // the seed exercises every link kind
    val clusters = batch.groupBy(_._2).values.map(_.keys.toSeq).toSeq
    assert(clusters.exists(c => c.filter(own(_) == 0).map(seed).distinct.size > 1),
      "no lake clusters merged")
    assert(clusters.exists(c => c.map(own).filter(_ > 0).distinct.size > 1),
      "no cross-delivery link")
    assert(clusters.exists(c => (1 to 3).exists(n => c.count(own(_) == n) > 1)),
      "no within-delivery link")
    assert(clusters.exists(c => c.filter(own(_) == 3).map(_ % 2).distinct.size > 1),
      "no link across delivery 3's slices")
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
  * (BASELINE.json training-data-pipeline surface). Algorithms follow the
  * standard public literature: Broder's min-wise hashing (1997) with
  * banded LSH (Indyk–Motwani 1998; Leskovec/Rajaraman/Ullman, "Mining of
  * Massive Datasets" ch. 3), and Charikar's SimHash (2002).
  *
  * Engine-portability rule: every hash is md5-hex-string based so a SQL
  * oracle (DuckDB) reproduces signatures bit-for-bit; min/argmax over hex
  * strings is a valid uniform hash family. No UDFs — signature
  * computation is `transform`/`aggregate` higher-order expressions
  * (codegen'd, map-side, zero shuffle).
  *
  * Scale design (100 TB): exact dedup = one hash-partitioned groupBy on a
  * 32-byte key. MinHash-LSH shuffles only (band, key) pairs — b×32 bytes
  * per doc, never doc×doc; candidate verification joins the tiny
  * signature table. SimHash clusters via a single groupBy on the 64-bit
  * signature. The O(n²)-looking Jaccard join is gram-bucketed: pairs only
  * form for docs sharing a concrete shingle.
  */
object Dedup {

  /** Distinct word n-gram shingles as (doc, shingle) rows, via a typed
    * flatMap: plain string ops, whole pipeline codegen'd around a single
    * deserialize boundary — benched ~15× faster than the interpreted
    * transform+slice expression tree over a token array. Same
    * normalization contract as TextAnalysis.normalize (ASCII corpus:
    * JVM and SQL lowercasing agree). */
  def shingleRows(df: DataFrame, textCol: String, idCol: String,
                  n: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // NULL ids are excluded up front: a null doc id has no identity to
    // dedup under, and the (Long, String) encoder would NPE on one. Same
    // contract in minhashSignaturesTyped.
    graft.ops.Fanout.byKey(
      df.where(col(idCol).isNotNull)
        .select(col(idCol).cast("long").as("doc"), col(textCol).as("text")),
      col("doc"))
      .as[(Long, String)]
      .flatMap { case (doc, text) =>
        if (text == null) Iterator.empty
        else {
          val toks = TextAnalysis.tokenizeJvm(TextAnalysis.normalizeJvm(text))
          if (toks.length < n) Iterator.empty
          else toks.sliding(n).map(_.mkString(" ")).toSet.iterator
            .map((s: String) => (doc, s))
        }
      }
      .toDF("doc", "s")
  }

  /** Snapshot delta: documents in `newDocs` whose normalized content
    * hash does NOT appear anywhere in `oldDocs` — the incremental-crawl
    * "what is actually new" question, answered with a hash anti-join
    * instead of a full re-dedup. One shuffle on the 32-byte hash for
    * each side (the old side pre-distincted, so even a heavily
    * duplicated snapshot contributes one row per content); at scale the
    * old-snapshot hash set is a persisted table and AQE broadcasts it
    * when small.
    *
    * NULL contract: a NULL-text doc hashes to a NULL content hash, and a
    * null anti-join key matches nothing — so NULL-text new docs are
    * always reported as new, and NULL-text old docs exclude nothing
    * (the oracle mirrors this with NOT EXISTS, whose null equality is
    * false — NOT IN would instead collapse to zero rows on one null). */
  def newContentOnly(newDocs: DataFrame, oldDocs: DataFrame,
                     textCol: String, idCol: String): DataFrame = {
    val hashExpr = md5(TextAnalysis.normalize(col(textCol)).cast("binary"))
    val newH = newDocs.select(col(idCol).as("doc_id"),
      hashExpr.as("content_hash"))
    val oldH = oldDocs.select(hashExpr.as("content_hash")).distinct()
    newH.join(oldH, Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))
  }

  /** Exact dedup groups: canonical id + multiplicity per content hash
    * (hash-groupBy; at scale this is the classic map-side-combined
    * shuffle on md5). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(TextAnalysis.normalize(col(textCol)).cast("binary")).as("content_hash"),
        col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** MinHash signature columns h0..h{n-1}: hash p is the min over the
    * doc's shingles of an 8-hex-char (32-bit) slice of
    * `md5("<p/4>|" + shingle)` — md5 number p/4, slice number p%4.
    * Chunking a uniform 128-bit hash yields four independent uniform
    * 32-bit hashes, so 8 hash functions cost TWO md5 evaluations per
    * (doc, shingle) row instead of eight (the md5 dominates the signature
    * build; slicing is free and the min-agg shuffles 8-char keys instead
    * of 32). Fixed-width lowercase hex compares lexicographically as the
    * integer it encodes, so `min` over the slice is a valid uniform
    * min-hash on any engine.
    *
    * Implementation note: computed by EXPLODING shingles and min-agg'ing
    * scalar md5 columns, not by `array_min(transform(...))` — Spark's
    * higher-order functions are interpreted (no codegen) and the
    * per-row-array form re-evaluates per join reference; the explode form
    * is whole-stage-codegen'd md5 + a partial-agg min and benched ~100×
    * faster at sf0.1. Semantics identical. */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        nHashes: Int = 8): DataFrame = {
    require(nHashes % 4 == 0, "nHashes must pack into whole md5s (4 slices each)")
    val sh = shingleRows(df, textCol, idCol)
    // Hashes are computed INLINE per (doc, shingle) row — map-side, fused
    // into the scan, partial-min before the only shuffle; the projection's
    // common-subexpression elimination evaluates each distinct md5 once.
    // The alternative (hash distinct shingles once, join the dictionary
    // back) was benched SLOWER here and adds a distinct+join shuffle; it
    // only wins on a corpus whose shingle duplication factor outweighs a
    // full extra shuffle of the (doc, shingle) rows.
    val sliced = sh.select(col("doc") +: (0 until nHashes).map { p =>
      substring(md5(concat(lit(s"${p / 4}|"), col("s"))), (p % 4) * 8 + 1, 8)
        .as(s"x$p")
    }: _*)
    val aggs = (0 until nHashes).map(p => min(col(s"x$p")).as(s"h$p"))
    sliced.groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
  }

  /** Typed one-pass twin of [[minhashSignatures]] (identical output,
    * DedupSpec-equivalence-checked): per doc, one tight JVM loop computes
    * both md5s per shingle and folds the 8 slice-minima directly — no
    * (doc, shingle) explode, no shuffle for the signature build, the
    * whole thing runs map-side at scan speed (the shingleRows/
    * withTokenProfile pattern; the column form's explode + 8-way min-agg
    * shuffles ~150 shingle rows per doc first). Same normalization and
    * hex-slice contract; JVM String ordering equals UTF8 binary ordering
    * on lowercase-hex ASCII. */
  def minhashSignaturesTyped(df: DataFrame, textCol: String, idCol: String,
                             nHashes: Int = 8, n: Int = 2): DataFrame = {
    require(nHashes % 4 == 0, "nHashes must pack into whole md5s (4 slices each)")
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import org.apache.spark.sql.{Encoders, Row}
    val nMd5 = nHashes / 4
    val outSchema = (0 until nHashes).foldLeft(
      new StructType().add("doc", LongType)) { (s, p) => s.add(s"h$p", StringType) }
    val textIdx = df.schema.fieldIndex(textCol)
    val idIdx = df.schema.fieldIndex(idCol)
    graft.ops.Fanout.byKey(df, col(idCol)).mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hexChars = "0123456789abcdef".toCharArray
      def hex(b: Array[Byte]): String = {
        val out = new Array[Char](32)
        var i = 0
        while (i < 16) {
          out(2 * i) = hexChars((b(i) >> 4) & 0xf)
          out(2 * i + 1) = hexChars(b(i) & 0xf)
          i += 1
        }
        new String(out)
      }
      rows.flatMap { r =>
        // NULL id or text -> no signature row (the shingleRows contract).
        val text = if (r.isNullAt(idIdx) || r.isNullAt(textIdx)) null
          else r.getString(textIdx)
        if (text == null) Iterator.empty
        else {
          val toks = TextAnalysis.tokenizeJvm(TextAnalysis.normalizeJvm(text))
          if (toks.length < n) Iterator.empty
          else {
            val mins = Array.fill[String](nHashes)(null)
            val seen = new java.util.HashSet[String]()
            toks.sliding(n).foreach { gram =>
              val s = gram.mkString(" ")
              if (seen.add(s)) {
                var m = 0
                while (m < nMd5) {
                  md.reset()
                  val h = hex(md.digest((s"$m|" + s)
                    .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
                  var c = 0
                  while (c < 4) {
                    val p = m * 4 + c
                    val slice = h.substring(c * 8, c * 8 + 8)
                    if (mins(p) == null || slice < mins(p)) mins(p) = slice
                    c += 1
                  }
                  m += 1
                }
              }
            }
            Iterator(Row.fromSeq(r.get(idIdx).asInstanceOf[Number].longValue() +:
              mins.toSeq))
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** The exploded (doc, band, key) band-bucket rows — exposed so the
    * q257 cap audit can read bucket sizes from the same construction
    * the candidate join uses. */
  def bandRows(sigs: DataFrame, nHashes: Int, bandSize: Int): DataFrame = {
    val nBands = nHashes / bandSize
    val bandStructs = (0 until nBands).map { b =>
      val key = concat((0 until bandSize).map(r => col(s"h${b * bandSize + r}")): _*)
      struct(lit(b).as("band"), key.as("key"))
    }
    sigs.select(col("doc"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** LSH banding: r consecutive minhashes concatenated per band; docs
    * colliding in any band become candidate pairs; candidates are then
    * verified against the full signature (estimated Jaccard =
    * fraction of agreeing minhashes). Returns (doc_a, doc_b, n_agree).
    *
    * `maxBucket` is the hot-band owner cap (r7 verdict item 6): a band
    * bucket with B owners emits B(B−1)/2 candidates, so ONE viral
    * boilerplate band key turns the join quadratic at corpus scale.
    * Buckets with more than `maxBucket` owners are excluded from
    * candidate generation — the same 50-owner discipline q150/q157
    * apply to frame/landmark buckets. The recall consequence is
    * MEASURED, not assumed: q257 sweeps the cap against the exact-
    * Jaccard truth (at the production banding the fixture's largest
    * bucket is 33 owners at sf0.1, so 50 is headroom, not pruning).
    * Audits that need the uncapped curve (the q198 band-size sweep and
    * the nesting spec) pass `Int.MaxValue` explicitly — a cap can break
    * cand(r) ⊆ cand(r') nesting when a coarse-band bucket is hot. */
  def lshCandidatePairs(sigs: DataFrame, nHashes: Int = 8, bandSize: Int = 2,
                        maxBucket: Int = 50): DataFrame = {
    val bands = bandRows(sigs, nHashes, bandSize)
    // Uncapped callers skip the cap machinery entirely (r8 verdict item
    // 1): the groupBy + left_semi legs cost two exchanges per call, and
    // with maxBucket = Int.MaxValue they keep every row — q198 pays that
    // four times in its sweep for a filter that filters nothing.
    val capped =
      if (maxBucket == Int.MaxValue) bands
      else {
        val ok = bands.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("nown")).where(col("nown") <= maxBucket)
          .select(col("band"), col("key"))
        bands.join(ok, Seq("band", "key"), "left_semi")
      }
    val cand = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    val agree = (0 until nHashes)
      .map(p => when(col(s"sa.h$p") === col(s"sb.h$p"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sigs.as("sa"), col("doc_a") === col("sa.doc"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc"))
      .select(col("doc_a"), col("doc_b"), agree.cast("int").as("n_agree"))
  }

  /** 64-bit SimHash as a '0'/'1' string: bit j is the sign of the token
    * vote sum, where a token votes +1 iff bit j of its md5 (the first 64
    * of the 128 digest bits, most-significant first) is set. One md5 per
    * token, parsed once into two unsigned-32-bit chunks, reused across
    * all 64 bits.
    *
    * 64 bits (not the original 32) is a SCALE requirement, not a
    * precision nicety: the Hamming-<=maxDist pigeonhole banding in
    * [[simhashHammingPairsFromSigs]] keys on sigBits/(maxDist+1)-bit
    * sub-bands, and at 32 bits / 3 bands that keyspace is ~2k cells —
    * past ~1e5 distinct signatures every cell holds O(N/2k) docs and the
    * candidate join is quadratic (measured: alpha 1.77 at the 70M-row
    * fixture). At 64 bits / 5 bands the band keys are ~13 bits
    * (~8k cells each) and keep widening with the signature, so candidate
    * fan-out stays output-proportional. */
  def simhash(text: Column): Column = {
    val toks = TextAnalysis.tokens(TextAnalysis.normalize(text))
    val tokChunks = transform(toks, t => {
      val h = md5(t.cast("binary"))
      struct(conv(substring(h, 1, 8), 16, 10).cast("long").as("c0"),
        conv(substring(h, 9, 8), 16, 10).cast("long").as("c1"))
    })
    val bits = (1 to 64).map { j =>
      val f = if (j <= 32) "c0" else "c1"
      val sh = 31 - ((j - 1) % 32)
      val votes = aggregate(tokChunks, lit(0), (acc, s) =>
        acc + when(shiftright(s.getField(f), sh).bitwiseAND(1) === 1, 1)
          .otherwise(-1))
      when(votes >= 0, "1").otherwise("0")
    }
    // Zero-token docs: all-'0' by convention (matches the SQL-oracle form
    // where the empty vote sum is NULL -> CASE ELSE '0').
    when(size(toks) === 0, lit("0" * 64)).otherwise(concat(bits: _*))
  }

  /** Per-doc 64-bit SimHash signatures — explode-based twin of [[simhash]]
    * (same bits): one codegen'd md5 per token, then INTEGER vote
    * aggregation — the digest's first 16 hex digits parse into 2
    * unsigned-32-bit chunks once per token, and each bit's vote is a
    * shift/mask sum instead of a per-row substring + string compare
    * (~2× on the signature build, which q25 and q48 both pay).
    *
    * Bit j (1-based, most-significant first) is bit 31-((j-1)%32) of
    * chunk (j-1)/32; the ±1 vote sum is >= 0 iff 2·(count of set bits)
    * >= n. See [[simhash]] for why the width is 64. */
  def simhashSignatures(df0: DataFrame, textCol: String, idCol: String): DataFrame = {
    // Fan out before the per-token md5 explode (guide §2.5: the corpus
    // parquet is one unsplittable row group, so the explode+digest work
    // otherwise runs in the single scan task); both branches below
    // (votes + zero-token re-add) reuse the one exchange.
    val df = graft.ops.Fanout.byKey(df0, col(idCol))
    val tok = df.select(col(idCol).as("doc"),
      explode(TextAnalysis.tokens(TextAnalysis.normalize(col(textCol)))).as("t"))
      .select(col("doc"), md5(col("t").cast("binary")).as("h"))
      .select(col("doc") +: (0 until 2).map(c =>
        conv(substring(col("h"), c * 8 + 1, 8), 16, 10).cast("long").as(s"c$c")): _*)
    val votes = (1 to 64).map { j =>
      val c = (j - 1) / 32
      val p = (j - 1) % 32
      sum(shiftright(col(s"c$c"), 31 - p).bitwiseAND(1)).as(s"v$j")
    }
    val bits = (1 to 64).map(j =>
      when(lit(2) * col(s"v$j") >= col("n"), "1").otherwise("0"))
    val nonEmpty = tok.groupBy(col("doc"))
      .agg(count(lit(1)).as("n"), votes: _*)
      .select(col("doc"), concat(bits: _*).as("simhash"))
    // Zero-token docs vanish in the explode; re-add them with the
    // all-'0' convention so both Scala forms and the oracle agree.
    val empties = df
      .where(size(TextAnalysis.tokens(TextAnalysis.normalize(col(textCol)))) === 0)
      .select(col(idCol).as("doc"), lit("0" * 64).as("simhash"))
    nonEmpty.unionByName(empties)
  }

  /** SimHash near-dup clusters — signatures shared by more than one doc
    * — over a prebuilt signature table (doc, simhash): signatures are
    * computed once ([[simhashSignatures]]), persisted, and consumed by
    * every downstream dedup pass. */
  def simhashClustersFromSigs(sigs: DataFrame): DataFrame =
    sigs.groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc")).as("min_doc"))
      .where(col("n_docs") > 1)

  /** Integer form of a '0'/'1' signature string — computed ONCE per doc
    * so band keys become shift+mask extractions and Hamming one
    * bit_count(xor); no string op ever reaches a candidate row (measured
    * 2.5× on q139). A 64-bit signature composes from two 32-bit halves:
    * conv()'s string result above 2^63-1 would CAST to null, silently
    * dropping every pair whose high bit is set. A signature
    * narrower/wider than sigBits would parse to a silently WRONG integer
    * (conv of a truncated/empty slice), so the width mismatch fails
    * loudly instead (assert_true is NULL on success; the coalesce adds 0
    * to the hot path). Shared by the batch band join and the streaming
    * ingest twin. */
  private[graft] def sigInt(sig: Column, sigBits: Int): Column = {
    require(sigBits == 32 || sigBits == 64, s"unsupported width $sigBits")
    val raw =
      if (sigBits == 32) conv(sig, 2, 10).cast("long")
      else shiftleft(conv(substring(sig, 1, 32), 2, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(sig, 33, 32), 2, 10).cast("long"))
    raw + coalesce(
      assert_true(length(sig) === sigBits,
        lit(s"simhash width != sigBits=$sigBits: pass sigBits explicitly"))
        .cast("long"), lit(0L))
  }

  /** Band b of an integer signature under `bounds` = [[bandBounds]]
    * (1-based string positions counted from the MOST significant bit):
    * a right-shift of (sigBits - (start-1) - len) then a len-bit mask. */
  private[graft] def bandKeyOf(c: Column, bounds: Seq[(Int, Int)],
                               sigBits: Int, b: Int): Column = {
    val (start, len) = bounds(b)
    shiftrightunsigned(c, sigBits - (start - 1) - len)
      .bitwiseAND(lit((1L << len) - 1))
  }

  /** SimHash near-dup PAIRS within Hamming distance <= maxDist (the
    * standard SimHash protocol, Manku/Jain/Sarma WWW'07): pigeonhole the
    * 64-bit signature into maxDist+1 bands — any pair within maxDist must
    * agree on at least one full band — candidate via band equi-join, then
    * verify the exact bit distance. Shuffle is bounded to band keys, so
    * the O(n²) bit comparison never materializes. The default threshold 4
    * of 64 is the equivalent of the old family's 2 of 32 (same relative
    * looseness) with band keys wide enough to scale — see [[simhash]].
    *
    * The input is a prebuilt (doc, simhash) signature table
    * ([[simhashSignatures]]); the caller owns the table's persistence
    * lifecycle. `sigBits` is the signature width (default the text
    * SimHash's 64, which q139's 64-block media hash shares; 32 remains
    * supported for narrow externally-built signatures — wider bands keep
    * the bucket key space large enough that a loose threshold doesn't
    * collapse the corpus into a handful of buckets). */
  def simhashHammingPairsFromSigs(sigs: DataFrame, maxDist: Int = 4,
                                  sigBits: Int = 64): DataFrame = {
    require(sigBits == 32 || sigBits == 64, s"unsupported width $sigBits")
    val nBands = maxDist + 1
    val bounds = bandBounds(sigBits, nBands)
    val sigi = sigInt(col("simhash"), sigBits)
    def bandOf(c: Column, b: Int): Column = bandKeyOf(c, bounds, sigBits, b)
    val bandStructs = bounds.indices.map { b =>
      struct(lit(b).as("band"), bandOf(col("sigi"), b).as("bkey"))
    }
    val bands = sigs.select(col("doc"), sigi.as("sigi"))
      .select(col("doc"), col("sigi"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc"), col("sigi"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    // Leftmost-band dedup: a near-identical pair collides in SEVERAL
    // bands; instead of a shuffle-distinct over the multiplied candidate
    // stream, keep a pair only in its first agreeing band (all earlier
    // bands must differ in the xor) — a pure filter, same pair set.
    val xorCol = col("sigi_a").bitwiseXOR(col("sigi_b"))
    val leftmost = bounds.indices.reverse.foldLeft(lit(false)) { (els, b) =>
      val earlierDiffer = (0 until b)
        .map(e => bandOf(xorCol, e) =!= 0L)
        .foldLeft(lit(true))(_ && _)
      when(col("band") === b, earlierDiffer).otherwise(els)
    }
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.band").as("band"),
        col("a.doc").as("doc_a"), col("a.sigi").as("sigi_a"),
        col("b.doc").as("doc_b"), col("b.sigi").as("sigi_b"))
      .where(leftmost)
    val hamming = bit_count(xorCol)
    cand.select(col("doc_a"), col("doc_b"), hamming.cast("int").as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** [[simhashHammingPairsFromSigs]] with the exact-dup collapse the
    * component path ([[simhashComponents]]) has always used, applied to
    * the PAIR surface: identical signatures become one representative
    * BEFORE the band join (the quadratic stage runs on DISTINCT
    * signatures), and the pair set expands back afterwards — intra-group
    * pairs are Hamming 0 by definition (one equi-join on the signature),
    * cross-group rep pairs fan out through two membership joins, both
    * output-sized. The pair SET is identical to the uncollapsed call
    * (identical signatures have identical distances to everything), but
    * the band-join cost drops from n² to distinct²·P(band collision) —
    * on a dup-heavy crawl, where identical media repeat endlessly, the
    * difference between corpus² and content². */
  def simhashHammingPairsDedupSigs(sigs: DataFrame, maxDist: Int,
                                   sigBits: Int = 64): DataFrame = {
    val members = graft.ops.TransientCache.persist(
      sigs.select(col("doc"), col("simhash")))
    val sigTable = graft.ops.TransientCache.persist(
      members.groupBy(col("simhash")).agg(min(col("doc")).as("rep")))
    val intra = members.as("a").join(members.as("b"),
        col("a.simhash") === col("b.simhash") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        lit(0).cast("int").as("hamming"))
    val repPairs = simhashHammingPairsFromSigs(
      sigTable.select(col("rep").as("doc"), col("simhash")), maxDist, sigBits)
    val cross = repPairs
      .join(sigTable.select(col("rep").as("doc_a"), col("simhash").as("sig_a")),
        "doc_a")
      .join(sigTable.select(col("rep").as("doc_b"), col("simhash").as("sig_b")),
        "doc_b")
      .join(members.select(col("doc").as("da"), col("simhash").as("sig_a")),
        "sig_a")
      .join(members.select(col("doc").as("db"), col("simhash").as("sig_b")),
        "sig_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    intra.unionByName(cross)
  }

  /** Doc → near-dup component membership over the SimHash graph (docs
    * connected iff their signatures are within `maxDist` Hamming bits),
    * component = min reachable doc id; only docs with at least one
    * partner appear (the docs a dedup pass would actually touch).
    *
    * Scale shape: identical signatures are collapsed to ONE representative
    * (min doc) BEFORE the band join and the component loop — an exact-dup
    * group of n docs is an n-clique in the doc graph (O(n²) pairs, and on
    * a dup-heavy crawl n is unbounded) but a single node here. Reachability
    * is preserved: same-signature docs are Hamming-0 neighbours, so doc
    * components = signature components expanded back through the
    * signature → doc mapping (a broadcast-sized join: one row per DISTINCT
    * signature). */
  def simhashComponents(sigs: DataFrame, maxDist: Int = 4): DataFrame = {
    val sigTable = graft.ops.TransientCache.persist(
      sigs.groupBy(col("simhash"))
        .agg(min(col("doc")).as("rep"), count(lit(1)).as("n_docs")))
    val repPairs = simhashHammingPairsFromSigs(
      sigTable.select(col("rep").as("doc"), col("simhash")), maxDist)
    val cc = Components.connectedComponentsAuto(repPairs, "doc_a", "doc_b")
    // A multi-doc signature participates even with no external edge (its
    // docs pair with each other); its component is its own representative.
    val sigComp = sigTable
      .join(cc, sigTable("rep") === cc("node"), "left")
      .where(col("n_docs") >= 2 || col("node").isNotNull)
      .select(col("simhash"), coalesce(col("comp"), col("rep")).as("comp"))
    // No broadcast hint: sigComp has one row per DISTINCT signature, which
    // is unbounded on a low-dup corpus (could exceed the broadcast cap /
    // OOM the driver at 100 TB). AQE broadcasts it when it measures small;
    // otherwise this is a plain shuffle join on the uniform simhash key.
    sigs.join(sigComp, "simhash")
      .select(col("doc"), col("comp"))
  }

  /** Multi-index-hashing chunk sweep (Norouzi, Punjani & Fleet 2012,
    * "Fast Search in Hamming Space with Multi-Index Hashing") over the
    * family's signature table — the serving-knob curve for THE banding
    * choice [[simhashHammingPairsFromSigs]] hard-codes (maxDist+1 equal
    * bands): Hamming ≤ `radius` pair retrieval banded by EXACT match on
    * one of m equal signature chunks, swept over `chunkCounts`. The
    * pigeonhole theorem — a pair at distance ≤ r differs in at most r
    * chunks, so m > r chunks guarantee an agreeing one — is MEASURED,
    * not asserted: recall_ppm is exactly 10⁶ for every lossless m >
    * radius, drops measurably below it, and n_cand prices what each
    * extra (narrower) chunk costs in candidate fan-out. The q198 (LSH
    * bands) / q267 (IVF nprobe) curve idiom, drawn for Hamming space —
    * the table an operator reads before re-banding the family.
    *
    * The truth leg is NOT a corpus-squared join: it rides the CHEAPEST
    * swept lossless banding (the smallest m > radius — with the default
    * sweep that is m = 5, the very banding the serving join uses, so
    * the audit's worst keyspace equals the serving path's). Candidate
    * fan-out per chunk cell is bounded by that chunk's keyspace — the
    * narrow-chunk legs (m = 8: 8-bit keys) blow up as N²/2^w by
    * construction, and MEASURING that blow-up against the equally
    * lossless m = 5 row is the sweep's point. One xor+popcount per
    * candidate, leftmost-chunk dedup in place of a shuffle-distinct.
    *
    * Chunks are [[bandBounds]] bands (contiguous, earlier bands one bit
    * longer when sigBits doesn't divide evenly), so any m ≥ 2 up to
    * sigBits is sweepable — including the serving join's own m.
    *
    * Output `(n_chunks, n_cand, n_verified, recall_ppm)`, one row per
    * swept m, ordered by n_chunks. */
  def simhashChunkSweep(sigs: DataFrame, radius: Int = 4,
                        chunkCounts: Seq[Int] = Seq(2, 4, 5, 8),
                        sigBits: Int = 64): DataFrame = {
    require(sigBits == 32 || sigBits == 64, s"unsupported width $sigBits")
    require(chunkCounts.nonEmpty && chunkCounts.max > radius,
      "some banding must be lossless at the sweep radius (max(m) > radius)")
    require(chunkCounts.forall(m => m >= 2 && m <= sigBits),
      s"chunk counts must be in [2, $sigBits], got $chunkCounts")
    val truthM = chunkCounts.filter(_ > radius).min
    val s2 = graft.ops.TransientCache.persist(
      sigs.select(col("doc"), sigInt(col("simhash"), sigBits).as("sigi")))
    def legFor(m: Int): DataFrame = {
      val bounds = bandBounds(sigBits, m)
      def chunkOf(c: Column, j: Int): Column =
        bandKeyOf(c, bounds, sigBits, j)
      val chunkStructs = (0 until m).map(j =>
        struct(lit(j).as("j"), chunkOf(col("sigi"), j).as("ck")))
      val ch = s2
        .select(col("doc"), col("sigi"),
          explode(array(chunkStructs: _*)).as("c"))
        .select(col("doc"), col("sigi"),
          col("c.j").as("j"), col("c.ck").as("ck"))
      val xorCol = col("sigi_a").bitwiseXOR(col("sigi_b"))
      // Leftmost-chunk dedup (the discipline of the band join above): a
      // pair colliding in several chunks is kept only in its FIRST
      // agreeing chunk — a pure filter instead of a shuffle-distinct,
      // and n_cand therefore counts DISTINCT candidate pairs.
      val leftmost = (0 until m).reverse.foldLeft(lit(false)) { (els, b) =>
        val earlierDiffer = (0 until b)
          .map(e => chunkOf(xorCol, e) =!= 0L)
          .foldLeft(lit(true))(_ && _)
        when(col("j") === b, earlierDiffer).otherwise(els)
      }
      val pairs = ch.as("a").join(ch.as("b"),
          col("a.j") === col("b.j") && col("a.ck") === col("b.ck") &&
            col("a.doc") < col("b.doc"))
        .select(col("a.j").as("j"),
          col("a.sigi").as("sigi_a"), col("b.sigi").as("sigi_b"))
        .where(leftmost)
        .select(bit_count(xorCol).cast("int").as("hamming"))
      pairs
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("hamming") <= radius, 1L).otherwise(0L)).as("nv"))
        .select(lit(m).cast("int").as("n_chunks"), col("n_cand"),
          coalesce(col("nv"), lit(0L)).as("n_verified"))
    }
    val legs = graft.ops.TransientCache.persist(
      chunkCounts.map(legFor).reduce(_ union _))
    val truth = legs.where(col("n_chunks") === lit(truthM))
      .select(col("n_verified").as("truth"))
    legs.crossJoin(broadcast(truth))
      .select(col("n_chunks"), col("n_cand"), col("n_verified"),
        when(col("truth") === 0, lit(1000000L))
          .otherwise(expr("(1000000 * n_verified) div truth"))
          .as("recall_ppm"))
      .orderBy(col("n_chunks"))
  }

  /** Split `total` bit positions into `n` contiguous (1-based start, len)
    * bands, earlier bands one longer when it doesn't divide evenly. */
  def bandBounds(total: Int, n: Int): Seq[(Int, Int)] = {
    val base = total / n
    val extra = total % n
    val lens = (0 until n).map(i => base + (if (i < extra) 1 else 0))
    lens.scanLeft(1)(_ + _).zip(lens).map { case (start, len) => (start, len) }
  }

  /** Exact n-gram Jaccard pairs above a rational threshold numJ/denJ
    * over a prebuilt (already-persisted) `(doc, s)` shingle stream
    * ([[shingleRows]]; the session-artifact form shares one corpus
    * shingle pass with every other bigram consumer). Dispatches between
    * the two exact strategies below on dictionary size: gram-bucketed
    * join for sparse corpora (the 100 TB shape: pairs only form for docs
    * sharing a gram); bitset-popcount for dense small-vocabulary corpora
    * where every doc shares grams with every other and the bucketed join
    * degenerates to |corpus|² × |grams|. The dense
    * path collects doc-count × vocab/8 bytes of bitsets to the driver,
    * so it is gated on BOTH dictionary size AND document count — a
    * 100 TB corpus with a tiny vocabulary must still take the sparse
    * bucketed join, never a driver collect. */
  def ngramJaccardPairsAutoFromShingles(sh: DataFrame,
                                        numJ: Int, denJ: Int,
                                        denseVocabLimit: Int = 1 << 16,
                                        denseDocLimit: Long = 1L << 16): DataFrame = {
    val probe = sh.select(countDistinct(col("s")).as("ng"),
      countDistinct(col("doc")).as("nd")).head()
    val (nGrams, nDocs) = (probe.getLong(0), probe.getLong(1))
    if (nGrams <= denseVocabLimit && nDocs <= denseDocLimit)
      denseFromShingles(sh, numJ, denJ)
    else sparseFromShingles(sh, numJ, denJ)
  }

  /** Dense-corpus exact Jaccard: dictionary-encode grams to bit indexes,
    * pack each doc into a Long bitset, broadcast the (tiny) bitset table
    * and popcount all pairs in a typed loop. Exact same output as the
    * bucketed join (pairs sharing >= 1 gram). O(n²/executors) compute but
    * zero shuffle and ~20 ops per pair — for small-vocab corpora this
    * beats the join by >10×; it is NOT the path for unbounded vocab. */
  private def denseFromShingles(shRows: DataFrame, numJ: Int, denJ: Int): DataFrame = {
    val spark = shRows.sparkSession
    import spark.implicits._
    // One pass: gram postings -> per-doc bitset, collected once (doc-count
    // × vocab/8 bytes; at unbounded scale this becomes block-partitioned).
    val postings = shRows
      .groupBy(col("doc")).agg(collect_list(col("s")).as("sl"))
      .as[(Long, Seq[String])].collect()
    val dict = postings.iterator.flatMap(_._2).toSet.toArray.sorted.zipWithIndex.toMap
    val words = (dict.size + 63) / 64
    val all = postings.map { case (doc, sl) =>
      val bm = new Array[Long](words)
      sl.foreach { s => val b = dict(s); bm(b >> 6) |= (1L << (b & 63)) }
      (doc, sl.size.toLong, bm)
    }.sortBy(_._1)
    val allB = spark.sparkContext.broadcast(all)
    spark.sparkContext
      .parallelize(all.indices, spark.sparkContext.defaultParallelism)
      .flatMap { ai =>
        val rows = allB.value
        val (doc, na, bm) = rows(ai)
        val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
        var j = ai + 1
        while (j < rows.length) {
          val (other, nb, obm) = rows(j)
          var i = 0; var inter = 0L
          while (i < bm.length) {
            inter += java.lang.Long.bitCount(bm(i) & obm(i)); i += 1
          }
          if (inter > 0 && denJ * inter >= numJ * (na + nb - inter))
            out += ((doc, other, inter, na, nb))
          j += 1
        }
        out.result()
      }
      .toDF("doc_a", "doc_b", "n_inter", "n_a", "n_b")
  }

  /** Exact n-gram Jaccard pairs above a rational threshold numJ/denJ.
    * Gram-bucketed join (only docs sharing a shingle pair up), integer
    * cross-multiplied threshold — no float division anywhere. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 2, numJ: Int = 1, denJ: Int = 5): DataFrame =
    sparseFromShingles(shingleRows(df, textCol, idCol, n), numJ, denJ)

  private def sparseFromShingles(shStr: DataFrame, numJ: Int, denJ: Int): DataFrame = {
    // Dictionary-encode grams to ints before the bucketed self-join: the
    // join produces one row per shared-gram pair, so key width dominates
    // its cost. The dictionary is distinct-gram-sized (vocabulary², tiny
    // vs corpus) and broadcast. Ids are per-run, only equality is used.
    val dict = shStr.select(col("s")).distinct()
      .withColumn("sid", monotonically_increasing_id())
    val sh = shStr.join(broadcast(dict), "s").select(col("doc"), col("sid"))
    val cnt = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sid") === col("b.sid") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(cnt.as("ca"), col("doc_a") === col("ca.doc"))
      .join(cnt.as("cb"), col("doc_b") === col("cb.doc"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        col("ca.n_sh").as("n_a"), col("cb.n_sh").as("n_b"))
      // J = i/(na+nb-i) >= numJ/denJ  <=>  denJ*i >= numJ*(na+nb-i)
      .where(lit(denJ) * col("n_inter") >=
        lit(numJ) * (col("n_a") + col("n_b") - col("n_inter")))
  }

  /** Overlapping token `window`-gram hashes WITH 1-based positions:
    * `(doc, pos, h)` — the positional twin of [[shingleRows]] (which
    * dedups and drops positions). One typed flatMap at scan speed; rows
    * emitted = tokens − window + 1 per doc (linear in corpus tokens).
    *
    * `h` is the first 60 bits of the window's md5 as a non-negative
    * BIGINT (`('0x'||substr(md5(g),1,15))::BIGINT` on the SQL side) —
    * an 8-byte join/shuffle key instead of a 32-char string, with a
    * ~2^-60 pairwise collision rate that both engines reproduce
    * identically (a collision is part of the operator's contract, the
    * md5-prefix discipline of [[minhashSignatures]]). */
  def windowHashRows(df: DataFrame, textCol: String, idCol: String,
                     window: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.ops.Fanout.byKey(
      df.where(col(idCol).isNotNull)
        .select(col(idCol).cast("long").as("doc"), col(textCol).as("text")),
      col("doc"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // First 15 hex chars = top 60 bits of the digest, as a Long.
        def h60(b: Array[Byte]): Long = {
          var v = 0L
          var i = 0
          while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
          v >>> 4
        }
        rows.flatMap { case (doc, text) =>
          if (text == null) Iterator.empty
          else {
            val toks = TextAnalysis.tokenizeJvm(TextAnalysis.normalizeJvm(text))
            if (toks.length < window) Iterator.empty
            else (0 to toks.length - window).iterator.map { i =>
              val g = toks.slice(i, i + window).mkString(" ")
              (doc, i + 1L, h60(md.digest(g.getBytes("UTF-8"))))
            }
          }
        }
      }
      .toDF("doc", "pos", "h")
  }

  /** Cross-document MAXIMAL shared token spans — the ExactSubstr
    * deduplication of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", §4.1), re-expressed for a shuffle engine.
    * The paper builds a single-machine suffix array; the distributed
    * shape is: overlapping `window`-token hashes with positions
    * ([[windowHashRows]]) → posting-list self-join (pairs only form for
    * docs sharing a concrete window — the gram-bucketed discipline of
    * [[ngramJaccardPairs]]) → per (pair, diagonal pa−pb) consecutive-
    * position chaining (a gaps-and-islands window) recovers every maximal
    * shared span of ≥ `minSpan` tokens exactly.
    *
    * Boilerplate guard: window hashes with more than `maxPostings` total
    * occurrences are dropped BEFORE pairing — their expansion is
    * quadratic and they are precisely the boilerplate a frequency filter
    * would kill anyway. The cap is part of the operator's CONTRACT (the
    * oracle applies the same HAVING), not a silent truncation.
    *
    * 100 TB shape: postings shuffle is linear in corpus tokens; pair
    * expansion is ≤ maxPostings² per distinct window; the islands window
    * shuffles once on (a, b, diag). Returns
    * `(a, b, a_pos, b_pos, span_tokens)`, a < b, positions 1-based. */
  def sharedSpans(df: DataFrame, textCol: String, idCol: String,
                  window: Int = 10, minSpan: Int = 15,
                  maxPostings: Int = 50): DataFrame = {
    // The postings feed the frequency gate AND both sides of the pair
    // join — persist once instead of re-tokenizing/md5-ing the corpus
    // three times (released by the runner via TransientCache).
    val w = graft.ops.TransientCache.persist(
      windowHashRows(df, textCol, idCol, window))
    val rare = w.groupBy(col("h")).agg(count(lit(1)).as("n_post"))
      .where(col("n_post") <= maxPostings).select(col("h"))
    val wf = w.join(rare, "h")
    val pairs = wf.as("x").join(wf.as("y"),
        col("x.h") === col("y.h") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"),
        col("x.pos").as("pa"), col("y.pos").as("pb"),
        (col("x.pos") - col("y.pos")).as("diag"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"), col("b"), col("diag")).orderBy(col("pa"))
    pairs
      .withColumn("grp", col("pa") - row_number().over(win))
      .groupBy(col("a"), col("b"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("a_pos"), min(col("pb")).as("b_pos"),
        (count(lit(1)) + (window - 1)).as("span_tokens"))
      .where(col("span_tokens") >= minSpan)
      .select(col("a"), col("b"), col("a_pos"), col("b_pos"), col("span_tokens"))
  }

  /** Paragraph-grain ExactSubstr: [[sharedSpans]] with the document
    * stream cut into non-overlapping `chunkTokens`-token chunks and
    * spans confined to a single chunk on BOTH sides. At corpus scale the
    * doc-grain pair graph has a failure mode the paper's §4.1 footnote
    * warns about: one boilerplate footer shared by many documents chains
    * otherwise-unrelated docs into one giant family. At chunk grain the
    * family unit is `(doc, chunk)` — the footer CHUNKS cluster with each
    * other while every body chunk keeps its own neighborhood, so
    * boilerplate can never transitively merge unrelated bodies.
    *
    * Mechanics: window postings keep only windows lying fully inside one
    * chunk (`floor((pos-1)/C) == floor((pos+w-2)/C)`); the frequency cap
    * is applied over the confined postings (contract, oracle-mirrored);
    * pairs form on equal window hash for `(doc,chunk)` lexicographically
    * ascending units — which keeps INTRA-doc cross-chunk pairs, i.e.
    * within-document boilerplate repeats are first-class spans too; the
    * gaps-and-islands chain runs per (unit pair, within-chunk diagonal).
    * Same 100 TB shape as [[sharedSpans]]: linear postings, capped
    * quadratic expansion per hash, one islands shuffle.
    *
    * Returns `(a, a_chunk, b, b_chunk, a_pos, b_pos, span_tokens)` with
    * positions 1-based WITHIN the chunk and `(a, a_chunk) < (b, b_chunk)`. */
  def sharedSpansChunked(df: DataFrame, textCol: String, idCol: String,
                         window: Int = 10, minSpan: Int = 15,
                         maxPostings: Int = 50,
                         chunkTokens: Int = 64): DataFrame = {
    require(chunkTokens >= window, "chunk must hold at least one window")
    val w = graft.ops.TransientCache.persist(
      windowHashRows(df, textCol, idCol, window))
    val wc = w
      .withColumn("chunk", floor((col("pos") - 1) / chunkTokens))
      .where(floor((col("pos") + (window - 2)) / chunkTokens) === col("chunk"))
      .withColumn("cpos", col("pos") - col("chunk") * chunkTokens)
    val rare = wc.groupBy(col("h")).agg(count(lit(1)).as("n_post"))
      .where(col("n_post") <= maxPostings).select(col("h"))
    val wf = wc.join(rare, "h")
    val pairs = wf.as("x").join(wf.as("y"),
        col("x.h") === col("y.h") &&
          (col("x.doc") < col("y.doc") ||
            (col("x.doc") === col("y.doc") && col("x.chunk") < col("y.chunk"))))
      .select(col("x.doc").as("a"), col("x.chunk").as("a_chunk"),
        col("y.doc").as("b"), col("y.chunk").as("b_chunk"),
        col("x.cpos").as("pa"), col("y.cpos").as("pb"),
        (col("x.cpos") - col("y.cpos")).as("diag"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"), col("a_chunk"), col("b"), col("b_chunk"), col("diag"))
      .orderBy(col("pa"))
    pairs
      .withColumn("grp", col("pa") - row_number().over(win))
      .groupBy(col("a"), col("a_chunk"), col("b"), col("b_chunk"),
        col("diag"), col("grp"))
      .agg(min(col("pa")).as("a_pos"), min(col("pb")).as("b_pos"),
        (count(lit(1)) + (window - 1)).as("span_tokens"))
      .where(col("span_tokens") >= minSpan)
      .select(col("a"), col("a_chunk"), col("b"), col("b_chunk"),
        col("a_pos"), col("b_pos"), col("span_tokens"))
  }

  /** The REWRITE half of ExactSubstr dedup (Lee et al. 2022 drop the
    * duplicated substring, not the document): given [[sharedSpans]]
    * output, excise every span occurrence from its b-side (higher-id)
    * document — the lower id keeps the first occurrence — and return
    * each doc's surviving normalized text with before/after token
    * counts. Docs without spans pass through unchanged.
    *
    * 100 TB shape: excised positions explode to span_tokens rows per
    * span (output-sized, spans are rare), the kill is one anti-join on
    * (doc, pos), and the rebuild is a per-doc sort_array over kept
    * tokens — all hash-partitioned on the doc id, no driver state. */
  def removeSharedSpans(df: DataFrame, spans: DataFrame,
                        textCol: String, idCol: String): DataFrame = {
    val excised = spans.select(col("b").as("doc"),
        explode(sequence(col("b_pos"), col("b_pos") + col("span_tokens") - 1))
          .as("pos"))
      .distinct()
    val kept = TextAnalysis.tokenPosRows(df, textCol, idCol)
      .join(excised, Seq("doc", "pos"), "left_anti")
    kept.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_after"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("token")))),
          s => s("token")), " ").as("text_dedup"))
      // Right join back so token-free docs still appear (n_after = 0).
      .join(df.where(col(idCol).isNotNull)
          .select(col(idCol).cast("long").as("doc")),
        Seq("doc"), "right")
      .select(col("doc"), coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** The prefix index of an exact Jaccard self-join at threshold
    * `numJ/denJ` — the AllPairs/PPJoin pruning of Bayardo et al. 2007
    * ("Scaling Up All Pairs Similarity Search", WWW) / Xiao et al. 2008,
    * the EXACT alternative to LSH banding: instead of hashing into
    * probabilistic buckets, order every doc's grams by one global rarity
    * order (ascending document frequency, gram string as the tiebreak)
    * and index only each doc's first `n_d − ceil(t·n_d) + 1` grams. Two
    * docs with J ≥ t share at least ceil(t·max(n_a, n_b)) grams (from
    * i(1+t) ≥ t(n_a+n_b) and i ≤ min(n_a, n_b)), so their prefixes under
    * ANY single global order must intersect — every qualifying pair
    * survives, while the join fans out only on each doc's RAREST few
    * grams (at t = 1/2, half the postings; the hot boilerplate grams that
    * dominate posting lists sort last and never enter the index).
    *
    * Rows are `(doc, s, nd, i)`: the gram, the doc's gram count `nd`
    * (the length filter reads it in the join) and the gram's rarity rank
    * `i` (the positional filter reads it) — the rows
    * [[ppjoinCandidatePairs]] self-joins. Public so audits can measure
    * the index (posting sizes → collision counts) without materializing
    * any pair. 100 TB shape: the df-rank attach is a broadcast-or-shuffle
    * join on the gram key; prefix selection is two windows partitioned by
    * doc (no global rank materialized — the (df, s) pair IS the order).
    * Integer-exact end to end. */
  def prefixPostings(shRows: DataFrame, numJ: Int, denJ: Int): DataFrame = {
    val dfreq = shRows.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val byDoc = shRows.join(dfreq, "s")
    val perDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc"))
    val order = perDoc.orderBy(col("df"), col("s"))
    // ceil(numJ·n/denJ) = floor((numJ·n + denJ − 1) / denJ), all BIGINT.
    byDoc
      .withColumn("i", row_number().over(order))
      .withColumn("nd", count(lit(1)).over(perDoc))
      .where(col("i") <=
        col("nd") - floor((lit(numJ) * col("nd") + lit(denJ - 1)) / lit(denJ)) + 1)
      .select(col("doc"), col("s"), col("nd"), col("i"))
  }

  /** The PPJoin candidate funnel at pair grain: the [[prefixPostings]]
    * self-join aggregated ONCE to `(doc_a, doc_b, pos_ok)`. Every row is a
    * prefix candidate; `pos_ok = 1` marks the positional candidates.
    *
    *   - Length filter (Arasu et al. 2006; AllPairs): J ≥ t forces
    *     t·|a| ≤ |b| ≤ |a|/t, i.e. denJ·min(n) ≥ numJ·max(n) — applied
    *     INSIDE the join, so a short boilerplate doc colliding with a
    *     long one on a prefix gram never becomes a candidate at all.
    *   - Positional filter (Xiao et al. 2008, §3.2): a collision on a
    *     gram at rarity ranks `(i_a, i_b)` bounds the pair's achievable
    *     overlap by `ubound = 1 + min(n_a − i_a, n_b − i_b)` (everything
    *     BEFORE the colliding gram in either prefix is already spent), and
    *     J ≥ t requires overlap ≥ ceil(t(n_a+n_b)/(1+t)); integer form
    *     `(numJ+denJ)·ubound ≥ numJ·(n_a+n_b)`. A pair is a positional
    *     candidate if ANY of its collisions passes.
    *
    * Both filters are lossless by the same cross-multiplied algebra as
    * the prefix rule: truth ⊆ positional ⊆ prefix candidates (ExtSpec
    * pins it). Verify either set with [[verifyJaccardCandidates]].
    * Map-side partial max collapses collision grain before the shuffle,
    * so the output is pair-sized. */
  def ppjoinCandidatePairs(prefix: DataFrame, numJ: Int, denJ: Int): DataFrame =
    prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc") < col("b.doc") &&
          lit(denJ) * least(col("a.nd"), col("b.nd")) >=
            lit(numJ) * greatest(col("a.nd"), col("b.nd")))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        (lit(numJ + denJ) * (lit(1L) +
          least(col("a.nd") - col("a.i"), col("b.nd") - col("b.i"))) >=
          lit(numJ) * (col("a.nd") + col("b.nd"))).cast("int").as("pos_ok"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("pos_ok")).as("pos_ok"))

  /** Verify a candidate pair table `(doc_a, doc_b)` to the exact
    * Jaccard ≥ numJ/denJ pairs: join it against per-doc sorted gram
    * arrays and count the intersection in one codegen'd `array_intersect`
    * — work proportional to CANDIDATES (which the prefix rule bounds),
    * never to all gram-sharing pairs. Output schema matches
    * [[ngramJaccardPairs]] exactly; a spec pins set equality. */
  def verifyJaccardCandidates(shRows: DataFrame, cands: DataFrame,
                              numJ: Int, denJ: Int): DataFrame = {
    // Gram sets are built over the FULL shingle stream, then joined to
    // the candidate pairs — deliberately NOT pre-restricted to candidate
    // docs. Both restricted
    // forms were built and measured at sf0.1 and both lost: a semi-join
    // re-sorts the full shingle stream (4.7 s → 8.8 s in the full bench)
    // and a broadcast of the candidate-doc list thrashes the driver
    // exactly when the session-artifact cache is full (4.7 s → 16.0 s).
    // The plain aggregate-then-join shuffles the shingle stream ONCE and
    // the join prunes to candidate rows on the build side. On a real
    // cluster the gram-set table is the stored doc-signature artifact
    // (SCALE.md) and the question disappears.
    val sets = shRows.groupBy(col("doc"))
      .agg(sort_array(collect_list(col("s"))).as("gs"),
        count(lit(1)).as("n"))
    cands
      .join(sets.select(col("doc").as("doc_a"), col("gs").as("gs_a"),
        col("n").as("n_a")), "doc_a")
      .join(sets.select(col("doc").as("doc_b"), col("gs").as("gs_b"),
        col("n").as("n_b")), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("gs_a"), col("gs_b"))).cast("long"))
      .where(lit(denJ) * col("n_inter") >=
        lit(numJ) * (col("n_a") + col("n_b") - col("n_inter")))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003) — the MOSS selection rule: over the stream of `gram`-
    * token window hashes, slide a window of `window` consecutive hashes
    * and keep the MINIMUM of each (rightmost position on hash ties —
    * "robust winnowing", §5), then dedupe selections. Guarantees: every
    * shared run of >= `window + gram - 1` tokens contributes at least
    * one common fingerprint (no false negatives above the noise
    * threshold), and expected density is 2/(window+1) — a FIXED sampling
    * rate, unlike MinHash (whole-doc grain) or [[sharedSpans]] (exact but
    * a heavier pair stage). This is the cheap screening tier between the
    * two.
    *
    * Mechanics (one window `min`, no UDF): each gram hash packs into a
    * single BIGINT key `h32 * 2^20 + (2^20-1 - pos)` where
    * `h32 = h60 % 2^31` ([[windowHashRows]]'s md5-prefix hash reduced to
    * 31 bits so the pack fits in 51 bits). `min(key)` over the trailing
    * `window` rows is then EXACTLY the rightmost-min rule: lower hash
    * wins first, and among equal hashes the larger position (smaller
    * complement) wins. Positions are contract-capped at 2^20-1 tokens
    * per document (three orders of magnitude above any real document's
    * token count; both engines see the same cap arithmetic trivially
    * satisfied). Selections dedupe with one distinct.
    *
    * 100 TB shape: tokenize + hash is scan-speed (mapPartitions); the
    * winnow min is a per-doc sorted window (one shuffle on doc); output
    * is ~2n/(window+1) rows — BOUNDED fingerprint density, the property
    * the paper proves and q225 measures against 2/(w+1) exactly.
    *
    * Returns `(doc, pos, fph)`: 1-based gram position of each selected
    * fingerprint and its 31-bit hash. */
  def winnowingFingerprints(df: DataFrame, textCol: String, idCol: String,
                            gram: Int = 4, window: Int = 8): DataFrame = {
    val w = windowHashRows(df, textCol, idCol, gram)
    val key = (col("h") % lit(2147483648L)) * lit(1048576L) +
      (lit(1048575L) - col("pos"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos"))
      .rowsBetween(-(window - 1), 0)
    w.withColumn("k", key)
      .withColumn("wmin", min(col("k")).over(win))
      // Only full winnow windows select (the paper's definition): the
      // first complete window ends at gram index `window`.
      .where(col("pos") >= window)
      .select(col("doc"),
        (lit(1048575L) - pmod(col("wmin"), lit(1048576L))).as("pos"),
        expr("wmin DIV 1048576").as("fph"))
      .distinct()
  }

  /** Doc-local typed twin of [[winnowingFingerprints]]: the whole winnow
    * (gram hashes → rightmost-min window scan → dedupe) runs inside one
    * `mapPartitions` per document — no window function, no shuffle, no
    * state — so it is legal on a STREAMING DataFrame where the
    * partitionBy/orderBy window is not (the `minhashSignaturesTyped`
    * discipline). Row-identical to the batch operator (StreamingSpec
    * pins the equivalence, which doubles as an independent check of the
    * packed-key window-min trick). */
  def winnowingFingerprintsLocal(df: DataFrame, textCol: String, idCol: String,
                                 gram: Int = 4, window: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.ops.Fanout.byKey(
      df.where(col(idCol).isNotNull)
        .select(col(idCol).cast("long").as("doc"), col(textCol).as("text")),
      col("doc"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h60(b: Array[Byte]): Long = {
          var v = 0L
          var i = 0
          while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
          v >>> 4
        }
        rows.flatMap { case (doc, text) =>
          if (text == null) Iterator.empty
          else {
            val toks = TextAnalysis.tokenizeJvm(TextAnalysis.normalizeJvm(text))
            if (toks.length < gram + window - 1) Iterator.empty
            else {
              val hs = Array.tabulate(toks.length - gram + 1) { i =>
                h60(md.digest(
                  toks.slice(i, i + gram).mkString(" ").getBytes("UTF-8")))
                  .%(2147483648L)
              }
              val sel = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
              var end = window - 1
              while (end < hs.length) {
                var best = end - window + 1
                var j = best + 1
                while (j <= end) {           // <= keeps the RIGHTMOST min
                  if (hs(j) <= hs(best)) best = j
                  j += 1
                }
                sel += ((best + 1L, hs(best)))
                end += 1
              }
              sel.iterator.map { case (p, h) => (doc, p, h) }
            }
          }
        }
      }
      .toDF("doc", "pos", "fph")
  }
}

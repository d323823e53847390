package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation (LLM-data
  * extensions): token counting, quality scoring, heuristic language ID,
  * document fingerprinting. All pure Column expressions — per-row, no
  * shuffle, safe at any scale.
  */
object TextAnalysis {
  import TextHash.tokens

  /** English-ish stopword profile used by the ratio/quality heuristics.
    * Deliberately tiny + deterministic so the oracle can replicate it. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  def tokenCount(text: Column): Column = size(tokens(text))

  def charCount(text: Column): Column = length(trim(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Stopword ratio of a token-array column. */
  def stopwordRatioOf(tok: Column): Column = {
    val swArr = array(stopwords.map(lit): _*)
    size(filter(tok, t => array_contains(swArr, t))).cast("double") / size(tok)
  }

  /** Heuristic quality score in [0,1] (brief: length/punct/stopword
    * ratios): rewards length up to 100 tokens, lexical diversity, and a
    * low stopword rate. Deterministic and oracle-reproducible. */
  def qualityScore(tok: Column): Column = {
    val nTok = size(tok).cast("double")
    val lengthScore = least(nTok / lit(100.0), lit(1.0))
    val diversity = size(array_distinct(tok)).cast("double") / nTok
    val stopPenalty = lit(1.0) - stopwordRatioOf(tok)
    round(lit(0.3) * lengthScore + lit(0.3) * diversity + lit(0.4) * stopPenalty, 6)
  }

  /** Stopword profiles for the heuristic language classifier (n-gram
    * profile method in miniature). Order = tie-break priority. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "que"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "les", "et"))

  /** Heuristic language ID: per-profile stopword-hit ratio, argmax with
    * first-profile-wins tie-break, 'und' below a 2% floor. Per-row,
    * codegen'd, oracle-reproducible. */
  def langId(tok: Column): Column = {
    val scores = langProfiles.map { case (lang, words) =>
      val wArr = array(words.map(lit): _*)
      lang -> (size(filter(tok, t => array_contains(wArr, t))).cast("double") / size(tok))
    }
    val maxScore = scores.map(_._2).reduce(greatest(_, _))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === maxScore && maxScore >= 0.02, lit(lang)).otherwise(acc)
    }
  }

  /** PII redaction — the scrub pass every LLM training corpus runs before
    * the data leaves the pipeline. Conservative ASCII patterns (identical
    * semantics under Java regex and RE2, so the pass is oracle-checkable;
    * deliberately NO `\s` — Java's includes \x0B, RE2's doesn't):
    * emails, IPv4 addresses, then phone numbers — in THAT order, so the
    * phone pattern can never consume the digits of an address it
    * overlaps. The phone shape requires the 3-3-4 grouping with MANDATORY
    * separators between groups (+ optional 1-3 digit country code):
    * a loose "digit run" pattern redacted year ranges ('2019-2020') and
    * spaced quantities ('1 000 000'), and optional separators would let
    * a 10-digit substring of any longer numeric ID (epoch millis,
    * order numbers) half-match — both exactly the text a training scrub
    * must preserve. Solid digit runs are therefore never redacted (RE2
    * has no lookarounds, so digit-boundary guards can't be expressed
    * portably; mandatory separators are the conservative substitute).
    * Pure per-row projection: three regex passes, no shuffle, linear at
    * any scale. Spark's regexp_replace is replace-ALL (the DuckDB oracle
    * mirrors with the 'g' flag). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>",
    "(\\+?[0-9]{1,3}[ .-])?\\(?[0-9]{3}\\)?[ .-][0-9]{3}[ .-][0-9]{4}" -> "<PHONE>")

  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (pat, marker)) =>
      regexp_replace(acc, pat, marker)
    }

  /** Occurrences of a literal marker in a string column (portable:
    * length-difference arithmetic, no regex). */
  def markerCount(t: Column, marker: String): Column =
    ((length(t) - length(replace(t, lit(marker), lit("")))) / marker.length)
      .cast("bigint")

  /** Repetition profile of a token array (C4/Gopher-style quality
    * signals): the duplicate-bigram ratio 1 - distinct/total — high
    * values mark boilerplate/spam documents that repetition filters
    * discard before training. Per-row array arithmetic, no shuffle. */
  def dupBigramRatio(tokCol: String): Column = {
    val grams = expr(s"transform(sequence(0, size($tokCol) - 2), " +
      s"i -> concat_ws(' ', $tokCol[i], $tokCol[i + 1]))")
    val ratio =
      round(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams), 6)
    // <2 tokens has no bigrams — and sequence(0, size-2) would COUNT DOWN
    // (Spark infers step -1 when start > stop), fabricating phantom grams.
    // NULL input stays NULL (a missing doc is not a zero-repetition doc).
    when(expr(s"$tokCol IS NULL"), lit(null).cast("double"))
      .when(expr(s"size($tokCol)") >= 2, ratio)
      .otherwise(lit(0.0))
  }

  /** Rolling document fingerprint: polynomial hash of the token-hash
    * stream (h = h*31 + (t mod 2^32), mod 2^32) — order-sensitive, unlike
    * the SimHash bag fingerprint. */
  def rollingFingerprint(hashArrCol: String): Column =
    expr(s"aggregate($hashArrCol, cast(0 as bigint), " +
      "(acc, h) -> pmod(acc * 31 + pmod(h, 4294967296), 4294967296))")

  // ---------------------------------------------------- staged evaluation
  //
  // qualityScore/langId above are single nested Column expressions whose
  // sub-terms reference `tok` many times; built over a non-materialized
  // tok (= split(text)), Catalyst inlines the split per reference —
  // measured 78 split() copies in q61's one-projection form, 28 CPU-s at
  // sf0.1. The staged form computes each count ONCE per document in a
  // dedicated projection, then derives the same formulas from cheap
  // scalar attributes (same arithmetic, bit-identical results).

  /** Stage 1: per-document counts, each referencing `tok` exactly once. */
  def profileCounts(tok: Column): Seq[(String, Column)] = {
    val swArr = array(stopwords.map(lit): _*)
    Seq(
      "__n" -> size(tok),
      "__nd" -> size(array_distinct(tok)),
      "__nsw" -> size(filter(tok, t => array_contains(swArr, t)))) ++
      langProfiles.map { case (lang, words) =>
        val wArr = array(words.map(lit): _*)
        s"__s_$lang" -> size(filter(tok, t => array_contains(wArr, t)))
      }
  }

  /** Stage 2: qualityScore from the stage-1 counts (same arithmetic). */
  def qualityFromCounts(n: Column, nd: Column, nsw: Column): Column = {
    val nTok = n.cast("double")
    val lengthScore = least(nTok / lit(100.0), lit(1.0))
    val diversity = nd.cast("double") / nTok
    val stopPenalty = lit(1.0) - nsw.cast("double") / n
    round(lit(0.3) * lengthScore + lit(0.3) * diversity + lit(0.4) * stopPenalty, 6)
  }

  /** Stage 2: langId from the stage-1 counts (same fold + tie-breaks). */
  def langIdFromCounts(n: Column, hits: Seq[(String, Column)]): Column = {
    val scores = hits.map { case (lang, h) => lang -> (h.cast("double") / n) }
    val maxScore = scores.map(_._2).reduce(greatest(_, _))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === maxScore && maxScore >= 0.02, lit(lang)).otherwise(acc)
    }
  }

  /** Deflate compression ratio of each document (compressed/raw bytes) —
    * the Gopher/CCNet-style repetitiveness signal: boilerplate and
    * looping text compresses far below natural prose, natural text sits
    * near ~0.4-0.7, and near-random text approaches 1. NOT expressible as
    * SQL (the only such operator family besides the multimodal codecs),
    * so it runs as a partition-batched mapPartitions stage like
    * Multimodal.decodeFeatures — one Deflater per partition, reused
    * across rows (the expensive init amortized, the 100 TB shape).
    * Deterministic: fixed level + strategy on the JDK's zlib.
    * Returns (idCol, raw_bytes, zip_bytes, ratio rounded 6). */
  def compressionRatio(docs: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("raw_bytes", IntegerType, false),
      StructField("zip_bytes", IntegerType, false),
      StructField("ratio", DoubleType, true)))
    val rdd = docs
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .rdd.mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(level, false)
        val buf = new Array[Byte](1 << 16)
        val out = rows.map { r =>
          val raw = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var z = 0
          while (!deflater.finished()) z += deflater.deflate(buf)
          val ratio =
            if (raw.length == 0) null
            else math.rint(z.toDouble / raw.length * 1e6) / 1e6
          Row(r.getLong(0), raw.length, z, ratio)
        }
        // release the native zlib buffer at exhaustion (++ rhs is by-name):
        // waiting for GC leaks native memory across long-lived executors
        out ++ { deflater.end(); Iterator.empty }
      }
    spark.createDataFrame(rdd, schema)
      .withColumnRenamed("id", idCol)
  }

  /** Corpus-relative RARE-TOKEN quality filter (the Gopher "fraction of
    * words not in a dictionary" rule with the corpus as its own
    * dictionary — the CCNet/RefinedWeb shape where quality is judged
    * against corpus statistics, not per-row heuristics): pass 1 builds
    * the unigram LM (token → count — ONE hash shuffle with map-side
    * combine, the only wide movement), pass 2 joins each document's
    * tokens back against it and counts tokens rarer than `minCount`;
    * a document is FLAGGED when rare tokens exceed `ratioPct` percent —
    * compared by integer cross-multiplication (`n_rare·100 > n_tokens·
    * ratioPct`), never a float ratio, so the decision is exact and
    * engine-portable. Returns one row per document that has tokens:
    * (idCol, n_tokens, n_rare, flagged).
    *
    * 100-TB shape: this is the ORACLE-SHAPED exact form (its join-back
    * shuffles every token occurrence on the skewed token key, the same
    * relation DuckDB computes) — production runs
    * [[rareTokenFlagsBroadcast]], the common-set inversion, measured at
    * 0.05× the shuffle volume (`RareTokenKernel`, source at commit
    * 842ff63). */
  def rareTokenFlags(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long, ratioPct: Int): DataFrame = {
    require(minCount >= 1 && ratioPct >= 0 && ratioPct <= 100,
      s"rareTokenFlags: minCount >= 1 and 0 <= ratioPct <= 100")
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("__tok"))
    val lm = toks.groupBy("__tok").agg(count(lit(1)).as("__c"))
    toks.join(lm, "__tok")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__c") < minCount, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("flagged",
        col("n_rare") * 100 > col("n_tokens") * ratioPct)
  }

  /** The PRODUCTION plan of [[rareTokenFlags]] — identical relation,
    * common-set inversion: tokens with count >= `minCount` are the FEW
    * (Zipf: the common set is the head, rarity is the long tail), so
    * instead of shuffling every token OCCURRENCE back onto a skewed
    * string key ("the" is a classic hot key), pass 1's LM is filtered
    * down to the common set, pulled once to the driver, and pass 2
    * flags occurrences with a map-side BROADCAST hash join — a miss IS
    * rare. Wide movement drops from (whole tokenized corpus, twice) to
    * the LM shuffle plus ONE pre-aggregated row per document: explode →
    * broadcast join → partial agg all fuse into one codegen span, and
    * the per-doc groupBy ships (id, n_tokens, n_rare) only.
    *
    * `maxCommonTokens` bounds the driver/broadcast footprint: the
    * common set is materialized with one `limit(max+1).collect()` over
    * the LM (also what guarantees the LM is built once), and exceeding
    * the bound fails crisply — raise `minCount` (a higher threshold
    * shrinks the common set), raise the bound if the driver has room,
    * or fall back to the exact-join [[rareTokenFlags]]. */
  def rareTokenFlagsBroadcast(docs: DataFrame, idCol: String,
      textCol: String, minCount: Long, ratioPct: Int,
      maxCommonTokens: Int = 10 * 1000 * 1000): DataFrame = {
    require(minCount >= 1 && ratioPct >= 0 && ratioPct <= 100,
      s"rareTokenFlagsBroadcast: minCount >= 1 and 0 <= ratioPct <= 100")
    require(maxCommonTokens >= 1, "rareTokenFlagsBroadcast: maxCommonTokens >= 1")
    val spark = docs.sparkSession
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("__tok"))
    val common = toks.groupBy("__tok").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("__tok"))
      .limit(maxCommonTokens + 1)
      .collect().map(_.getString(0))
    if (common.length > maxCommonTokens)
      throw new IllegalStateException(
        s"rareTokenFlagsBroadcast: more than $maxCommonTokens tokens " +
          s"reach count >= $minCount — the common set does not fit the " +
          "broadcast budget. Raise minCount (a stricter threshold " +
          "shrinks the common set), raise maxCommonTokens if the " +
          "driver has headroom, or use rareTokenFlags (exact join)")
    import spark.implicits._
    val commonDf = common.toSeq.toDF("__tok").withColumn("__common", lit(true))
    toks.join(broadcast(commonDf), Seq("__tok"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__common").isNull, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("flagged",
        col("n_rare") * 100 > col("n_tokens") * ratioPct)
  }
}

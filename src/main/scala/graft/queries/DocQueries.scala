package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Stage}
import QueryDsl._

/** [NS] LLM-training-data pipeline operators over `documents`: exact and
  * near-duplicate detection (hash, n-gram Jaccard, MinHash+LSH, SimHash),
  * text quality/language/token analysis, document fingerprinting.
  *
  * Scale stance: every pipeline is one-or-two shuffles on bounded keys.
  * The quadratic candidate generation (shared-ngram join) exists only as
  * the small-data oracle twin; the 100 TB path is MinHash LSH (band join:
  * candidates grow ~linearly with real near-dup density, 826 pairs on 5k
  * docs here vs 1.1M from the naive shared-ngram join).
  */
object DocQueries {

  /** SQL twin: per-doc distinct trigram table expression. */
  private val shinglesSql: String =
    """SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 1),
      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)"""

  /** SURVEY §2.8 D5 — exact dedup by content hash: md5 groups, keep the
    * min doc_id (one shuffle on the 128-bit hash; at 100 TB this is the
    * cheapest dedup and runs first to shrink later stages). */
  val q22ExactDedup = Q(
    "q22_exact_dedup",
    (s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("keep_id")),
    Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
      md5(text) AS content_hash
      FROM documents GROUP BY md5(text) ORDER BY keep_id"""),
    doc = "SURVEY §2.8 D5 exact dedup (content hash)")

  /** SURVEY §2.8 D5 — n-gram Jaccard near-dup: distinct word-trigram sets,
    * candidate pairs via shared-gram equi-join, Jaccard >= 0.5. Jaccard is
    * an int/int division → bit-identical doubles in both engines. */
  val q23NgramJaccard = Q(
    "q23_ngram_jaccard",
    (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, minJaccard = 0.5)
        .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH tg AS ($shinglesSql),
      sz AS (SELECT doc_id, count(*) AS n FROM tg GROUP BY doc_id),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM tg a JOIN tg b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, shared,
        CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
      FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
      ORDER BY doc_a, doc_b"""),
    doc = "SURVEY §2.8 D5 n-gram Jaccard (oracle twin of the LSH path)")

  /** SURVEY §2.8 D5 — MinHash + LSH banding: k=8 numeric signature
    * components (components 2i/2i+1 = the 60-bit halves of
    * md5(i ':' gram), min-aggregated), 4 bands × 2 rows, candidates = doc
    * pairs sharing a band. The 100 TB near-dup path: signature build is one
    * groupBy(doc) pass; the band join touches only colliding buckets. */
  val q24MinhashLsh = Q(
    "q24_minhash_lsh",
    (s, d) =>
      Dedup.minhashLshCandidates(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, k = 8, bands = 4)
        .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH tg AS ($shinglesSql),
      sig AS (SELECT doc_id,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM tg GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band, s0 AS v0, s1 AS v1 FROM sig UNION ALL
        SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
        SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
        SELECT doc_id, 3, s6, s7 FROM sig)
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
          AND x.doc_id < y.doc_id
      ORDER BY doc_a, doc_b"""),
    doc = "SURVEY §2.8 D5 MinHash+LSH banding (scale path for near-dup)")

  /** SURVEY §2.8 D5 — SimHash: 32-bit signature from per-word md5 nibbles;
    * bit_j = sign(sum over distinct words of ±1). Exact-signature collision
    * groups = near-dup buckets. */
  val q25Simhash = Q(
    "q25_simhash",
    (s, d) =>
      Dedup.simhash(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id")),
    Some("""WITH words AS (
        SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents),
      bits AS (
        SELECT doc_id, j,
          CASE WHEN (strpos('0123456789abcdef', h[(j // 4) + 1]) - 1)
            // CAST(pow(2, 3 - (j % 4)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END AS wgt
        FROM (SELECT doc_id, md5(w) AS h FROM words), unnest(range(0, 32)) AS t(j)),
      sums AS (SELECT doc_id, j, sum(wgt) AS s FROM bits GROUP BY doc_id, j)
      SELECT doc_id, string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
        ORDER BY j) AS simhash
      FROM sums GROUP BY doc_id ORDER BY doc_id"""),
    doc = "SURVEY §2.8 D5 SimHash signature")

  /** SURVEY §2.8 D5 [NS] — SimHash NEAR-dup pairs within Hamming
    * distance 3, completing q25 (exact-signature collisions only): the
    * 64-bit signature splits into 4 16-bit bands — by pigeonhole any
    * pair within distance 3 shares at least one exact band — equi-join
    * on (band, key) for candidates, then verify with true
    * `bit_count(a ^ b)`. The oracle brute-forces ALL pairs bit-by-bit
    * (the quadratic twin, as q23 is to q52), so a green row proves the
    * banding loses nothing — now over the FULL fixture: round 3 ran a
    * ¼ subset because 32-bit signatures band into 8-bit keys (256
    * values) that collide massively on this corpus's dense sketches;
    * 16-bit keys (65 536 values) restore selectivity, which is exactly
    * the production fix for dense-sketch corpora. Signatures travel as
    * single longs (8-byte shuffle rows, integer band keys). */
  /** Shared oracle prefix: every doc pair with SimHash Hamming distance
    * ≤ 3 as CTE `hp(doc_a, doc_b, hamming)` (the quadratic twin of
    * `Dedup.simhashHammingPairs`); used by q93 and q144. */
  private val simhashPairsCtes: String = """words AS (
        SELECT DISTINCT doc_id,
          unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents),
      bits AS (
        SELECT doc_id, j,
          CASE WHEN (strpos('0123456789abcdef', h[(j // 4) + 1]) - 1)
            // CAST(pow(2, 3 - (j % 4)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1
            END AS wgt
        FROM (SELECT doc_id, md5(w) AS h FROM words),
          unnest(range(0, 64)) AS t(j)),
      sums AS (SELECT doc_id, j, sum(wgt) AS s FROM bits GROUP BY doc_id, j),
      hp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(count(CASE WHEN (a.s >= 0) <> (b.s >= 0) THEN 1 END)
            AS BIGINT) AS hamming
        FROM sums a JOIN sums b ON a.j = b.j AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(CASE WHEN (a.s >= 0) <> (b.s >= 0) THEN 1 END) <= 3)"""

  val q93SimhashHamming = Q(
    "q93_simhash_hamming",
    (s, d) => {
      import s.implicits._
      Dedup.simhashHammingPairs(Tables.documents(s, d), "doc_id", "text")
        .orderBy($"doc_a", $"doc_b")
    },
    Some(s"""WITH $simhashPairsCtes
      SELECT doc_a, doc_b, hamming FROM hp
      ORDER BY doc_a, doc_b"""),
    doc = "SURVEY §2.8 D5 [NS] SimHash Hamming-banded near-dup (lossless vs brute force, full fixture)")

  /** SURVEY §2.10 [NS] — Unicode NFC normalization (native codegen'd
    * `graft_nfc`; Spark has no built-in normalizer): each doc gets a
    * suffix in PREcomposed (é = U+00E9) or DEcomposed (e + U+0301) form
    * by id parity; after NFC both buckets must be byte-identical to the
    * precomposed spelling. The oracle runs DuckDB's utf8proc
    * `nfc_normalize` — a green row means two independent UAX #15
    * implementations agree byte-for-byte (md5 digests over the
    * normalized text, order-independent xor fold). */
  val q94NfcNormalize = Q(
    "q94_nfc_normalize",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d)
        .withColumn("suffix",
          when($"doc_id" % 2 === 0, lit(" caf\u00e9"))
            .otherwise(lit(" cafe\u0301")))
        .withColumn("clean", expr("graft_nfc(concat(text, suffix))"))
        .groupBy(($"doc_id" % 2).as("bucket"))
        .agg(count(lit(1)).as("n"),
          count(when($"clean" === concat($"text", lit(" caf\u00e9")), 1))
            .as("n_composed"),
          expr("bit_xor(cast(conv(substring(md5(clean), 1, 15), 16, 10) AS BIGINT))")
            .as("content_xor"))
        .orderBy($"bucket")
    },
    Some("""WITH r AS (SELECT doc_id, text,
        nfc_normalize(text || CASE WHEN doc_id % 2 = 0
          THEN ' caf' || chr(233) ELSE ' cafe' || chr(769) END) AS clean
      FROM documents)
      SELECT doc_id % 2 AS bucket, count(*) AS n,
        count(CASE WHEN clean = text || ' caf' || chr(233) THEN 1 END)
          AS n_composed,
        bit_xor(CAST('0x' || substr(md5(clean), 1, 15) AS BIGINT))
          AS content_xor
      FROM r GROUP BY 1 ORDER BY bucket"""),
    doc = "SURVEY §2.10 [NS] native NFC normalization vs DuckDB utf8proc (byte-exact)")

  /** [NS] text analysis — heuristic language ID: stopword-hit scoring per
    * language over the token set, argmax with fixed tie order. */
  val q26LangId = Q(
    "q26_lang_id",
    (s, d) => {
      import s.implicits._
      val stop = Map(
        "en" -> Seq("the", "a", "of", "and", "to"),
        "de" -> Seq("der", "die", "das", "und", "ein"),
        "fr" -> Seq("le", "la", "les", "et", "un"),
        "es" -> Seq("el", "la", "los", "y", "un"))
      def score(lang: String): Column = {
        // distinct stopword hits via array_intersect — a native collection
        // expression on both engines (no interpreted per-word lambda)
        val words = split(col("text"), " ")
        size(array_intersect(words,
          array(stop(lang).map(lit): _*))).cast("long")
      }
      Tables.documents(s, d)
        .withColumn("s_en", score("en")).withColumn("s_de", score("de"))
        .withColumn("s_fr", score("fr")).withColumn("s_es", score("es"))
        .withColumn("predicted",
          when($"s_en" >= $"s_de" && $"s_en" >= $"s_fr" && $"s_en" >= $"s_es", "en")
            .when($"s_de" >= $"s_fr" && $"s_de" >= $"s_es", "de")
            .when($"s_fr" >= $"s_es", "fr").otherwise("es"))
        .groupBy($"lang", $"predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"predicted")
    },
    Some("""WITH scored AS (
        SELECT lang,
          len(list_intersect(l, ['the','a','of','and','to'])) AS s_en,
          len(list_intersect(l, ['der','die','das','und','ein'])) AS s_de,
          len(list_intersect(l, ['le','la','les','et','un'])) AS s_fr,
          len(list_intersect(l, ['el','la','los','y','un'])) AS s_es
        FROM (SELECT lang, string_split(text, ' ') AS l FROM documents))
      SELECT lang,
        CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
          WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
          WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS predicted,
        count(*) AS n
      FROM scored GROUP BY 1, 2 ORDER BY lang, predicted"""),
    doc = "[NS] text analysis: n-gram/stopword language ID heuristic")

  /** [NS] text analysis — quality scoring: word count, mean word length,
    * stopword ratio per doc, aggregated per source (exact-sum scaled). */
  val q27QualityScore = Q(
    "q27_quality_score",
    (s, d) => {
      import s.implicits._
      val words = split($"text", " ")
      val nWords = size(words).cast("long")
      val sumLen = aggregate(transform(words, w => length(w).cast("long")),
        lit(0L), (acc, x) => acc + x)
      val nStop = size(filter(words,
        w => w.isInCollection(Seq("the", "a", "of", "and", "to")))).cast("long")
      Tables.documents(s, d)
        .withColumn("n_words", nWords)
        .withColumn("awl", sumLen.cast("double") / nWords)
        .withColumn("stop_ratio", nStop.cast("double") / nWords)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_words").as("total_words"),
          exactSum($"awl", 6).as("sum_avg_word_len"),
          exactSum($"stop_ratio", 6).as("sum_stop_ratio"))
        .orderBy($"source")
    },
    Some(s"""WITH m AS (
        SELECT source, len(l) AS n_words,
          CAST(list_sum(list_transform(l, w -> strlen(w))) AS DOUBLE) / len(l) AS awl,
          CAST(len(list_filter(l, w -> w IN ('the','a','of','and','to')))
            AS DOUBLE) / len(l) AS stop_ratio
        FROM (SELECT source, string_split(text, ' ') AS l FROM documents))
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_words) AS BIGINT) AS total_words,
        ${exactSumSql("awl", 6)} AS sum_avg_word_len,
        ${exactSumSql("stop_ratio", 6)} AS sum_stop_ratio
      FROM m GROUP BY source ORDER BY source"""),
    doc = "[NS] text analysis: quality scoring")

  /** [NS] text analysis — token counting: whitespace tokens and a BPE-ish
    * regex segmentation (letter runs / digit runs / other), per lang. */
  val q28TokenCount = Q(
    "q28_token_count",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("n_ws", size(split($"text", " ")).cast("long"))
        .withColumn("n_bpe",
          size(regexp_extract_all($"text", lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .cast("long"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_ws").as("sum_ws_tokens"),
          sum($"n_bpe").as("sum_bpe_tokens"))
        .orderBy($"lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
      CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
      CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
        AS BIGINT) AS sum_bpe_tokens
      FROM documents GROUP BY lang ORDER BY lang"""),
    doc = "[NS] text analysis: token counting (whitespace + BPE-ish regex)")

  /** [NS] text analysis — document fingerprint: md5 of the sorted distinct
    * token set (OpenRefine-style key collision fingerprint); collision
    * groups are bag-of-words duplicates. */
  val q29Fingerprint = Q(
    "q29_fingerprint",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("fp",
          md5(array_join(array_sort(array_distinct(split($"text", " "))), " ")))
        .groupBy($"fp")
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
        .select($"keep_id", $"n_docs", $"fp")
        .orderBy($"keep_id")
    },
    Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_docs,
      md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      FROM documents
      GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
      ORDER BY keep_id"""),
    doc = "[NS] text analysis: set-of-words fingerprint")

  /** [NS] text analysis — rolling-hash fingerprint (winnowing style,
    * Schleimer et al. SIGMOD'03 — public algorithm): hash every 8-char
    * sliding window, keep the k=4 minimal hashes as the document
    * fingerprint. Shared windows between near-identical docs yield shared
    * minima, so fingerprint collisions flag overlapping content. */
  val q49Winnowing = Q(
    "q49_winnowing",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("fp",
          graft.functions.WinnowExpression.winnowFingerprint($"text", 8, 4))
        .groupBy($"fp")
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
        .select($"keep_id", $"n_docs", $"fp")
        .orderBy($"keep_id")
    },
    Some("""WITH f AS (
        SELECT doc_id, array_to_string(
          list_sort(list_distinct(list_transform(
            range(1, greatest(strlen(text) - 7, 1) + 1),
            i -> md5(substr(text, i, 8)))))[1:4], '|') AS fp
        FROM documents)
      SELECT min(doc_id) AS keep_id, count(*) AS n_docs, fp
      FROM f GROUP BY fp ORDER BY keep_id"""),
    doc = "[NS] rolling-hash winnowing fingerprint (min-k window hashes)")

  /** [NS] — LSH recall audit (q164): "measure, don't guess" applied to
    * the dedup config itself. The q24 banding geometry (4 bands × 2
    * rows) is a RECALL TRADEOFF — a J=0.5 pair collides with
    * probability 1−(1−0.5²)⁴ ≈ 0.68 — and this query makes the s-curve
    * empirical: exact truth pairs (the lossless PPJoin path) full-outer
    * the LSH candidates, classified found / missed (LSH false negative)
    * / extra (candidate below threshold, killed by verify), with
    * integer-ppm recall. The operator you run BEFORE trusting a banding
    * config at 100 TB; both engines replay both pipelines and the
    * classification. On this fixture recall reads 1 000 000 ppm — its
    * near-dups are J≈1 twins, far up the s-curve; the `missed` class
    * appears exactly when a corpus has borderline-J pairs, which is
    * what the audit exists to expose (accounting identities pinned in
    * DedupSpec). */
  val q164LshRecall = Q(
    "q164_lsh_recall",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val truth = Dedup.ngramJaccardPairsPrefixFiltered(docs, "doc_id",
          "text", shingleN = 3, minJaccard = 0.5)
        .select($"doc_a", $"doc_b", lit(1).as("t"))
      val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text",
          shingleN = 3, k = 8, bands = 4)
        .select($"doc_a", $"doc_b", lit(1).as("c"))
      val m = truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
        .withColumn("status",
          when($"t".isNotNull && $"c".isNotNull, "found")
            .when($"t".isNotNull, "missed")
            .otherwise("extra"))
      val agg = m.groupBy($"status").agg(count(lit(1)).as("n_pairs"))
      val rec = agg.agg(
          sum(when($"status" === "found", $"n_pairs").otherwise(0L)).as("f"),
          sum(when($"status" =!= "extra", $"n_pairs").otherwise(0L)).as("tt"))
        .select(expr("(f * 1000000) div tt").as("recall_pm"))
      agg.crossJoin(broadcast(rec)).orderBy($"status")
    },
    Some(s"""WITH tg AS ($shinglesSql),
      sz AS (SELECT doc_id, count(*) AS n FROM tg GROUP BY doc_id),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM tg a JOIN tg b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (SELECT doc_a, doc_b FROM p
        JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5),
      sig AS (SELECT doc_id,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM tg GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band, s0 AS v0, s1 AS v1 FROM sig UNION ALL
        SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
        SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
        SELECT doc_id, 3, s6, s7 FROM sig),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
        ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
          AND x.doc_id < y.doc_id),
      m AS (SELECT CASE WHEN t.doc_a IS NOT NULL AND c.doc_a IS NOT NULL
            THEN 'found'
          WHEN t.doc_a IS NOT NULL THEN 'missed'
          ELSE 'extra' END AS status
        FROM truth t FULL OUTER JOIN cand c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
      a AS (SELECT status, CAST(count(*) AS BIGINT) AS n_pairs FROM m
        GROUP BY 1),
      r AS (SELECT CAST((sum(CASE WHEN status = 'found' THEN n_pairs
            ELSE 0 END) * 1000000) //
          sum(CASE WHEN status <> 'extra' THEN n_pairs ELSE 0 END)
          AS BIGINT) AS recall_pm FROM a)
      SELECT a.status, a.n_pairs, r.recall_pm FROM a, r
      ORDER BY a.status"""),
    doc = "[NS] LSH recall audit: banding s-curve measured against exact truth")

  /** SURVEY §2.8 D5 — the PPJoin prefix-filtered Jaccard join (Xiao et
    * al., WWW'08): the 100 TB path for exact similarity joins over skewed
    * gram vocabularies. Lossless — identical output contract to q23, and
    * the oracle IS q23's SQL, proving the pruning drops nothing. */
  val q52JaccardPrefix = Q(
    "q52_jaccard_prefix",
    (s, d) =>
      Dedup.ngramJaccardPairsPrefixFiltered(Tables.documents(s, d), "doc_id",
        "text", shingleN = 3, minJaccard = 0.5)
        .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH tg AS ($shinglesSql),
      sz AS (SELECT doc_id, count(*) AS n FROM tg GROUP BY doc_id),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM tg a JOIN tg b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, shared,
        CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
      FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
      ORDER BY doc_a, doc_b"""),
    doc = "Xiao et al. WWW'08 PPJoin prefix filter (scale path of q23)")

  /** [NS] text analysis — repetition metrics (Gopher-style quality
    * rules): per doc, the fraction of words taken by the single most
    * frequent word and the duplicate word-bigram fraction — the two
    * signals that catch boilerplate/keyword-stuffed documents that pure
    * length/stopword scores (q27) miss. Ratios are int/int divisions →
    * bit-identical doubles in both engines. Scale: one explode + two
    * combining aggregations on doc_id (word counts), one per-row native
    * expression (distinct bigrams via graft_shingles) — no joins between
    * docs. */
  val q70Repetition = Q(
    "q70_repetition",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val words = split($"text", " ")
      val wordStats = docs
        .select($"doc_id", explode(words).as("w"))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(max($"c").as("max_cnt"), sum($"c").as("n_words"))
      docs.select($"doc_id", $"text").join(wordStats, Seq("doc_id"))
        .withColumn("n_distinct_bigrams",
          size(graft.functions.ShingleExpression.wordShingles($"text", 2))
            .cast("long"))
        .withColumn("n_bigrams", $"n_words" - 1)
        .filter($"n_words" >= 2)
        .select($"doc_id", $"n_words", $"max_cnt",
          round($"max_cnt".cast("double") / $"n_words", 6)
            .as("top_word_frac"),
          $"n_bigrams", $"n_distinct_bigrams",
          round(($"n_bigrams" - $"n_distinct_bigrams").cast("double") /
            $"n_bigrams", 6).as("dup_bigram_frac"))
        .orderBy($"doc_id")
        .limit(200)
    },
    Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
      ws AS (SELECT doc_id, max(c) AS max_cnt,
        CAST(sum(c) AS BIGINT) AS n_words FROM wc GROUP BY doc_id),
      bg AS (SELECT doc_id,
        CAST(len(list_distinct(list_transform(range(1, len(l)),
          i -> l[i] || ' ' || l[i+1]))) AS BIGINT) AS n_distinct_bigrams
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))
      SELECT ws.doc_id, n_words, max_cnt,
        round(CAST(max_cnt AS DOUBLE) / n_words, 6) AS top_word_frac,
        n_words - 1 AS n_bigrams, n_distinct_bigrams,
        round(CAST(n_words - 1 - n_distinct_bigrams AS DOUBLE) /
          (n_words - 1), 6) AS dup_bigram_frac
      FROM ws JOIN bg ON bg.doc_id = ws.doc_id
      WHERE n_words >= 2 ORDER BY ws.doc_id LIMIT 200"""),
    doc = "[NS] Gopher-style repetition quality signals (Rae et al. 2021)")

  /** SURVEY §2.10 custom-Aggregator surface — per-source corpus MinHash
    * signature via `graft_minhash_union` (the mergeable-sketch union,
    * [[graft.functions.MinHashUnionAggregator]]) over per-doc
    * `graft_minhash` signatures, both called from SQL. Element-wise min of
    * per-doc signatures == min over all the source's grams, which is what
    * the oracle computes flat — so this proves the Aggregator's
    * partial-agg merge lossless end-to-end. Scale: per-row codegen'd
    * signature, then one map-side-combining shuffle of 64-byte sketches. */
  val q68MinhashUnion = Q(
    "q68_minhash_union",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d)
        .select($"source", expr("graft_minhash(text, 3, 8)").as("sig"))
        .filter($"sig".isNotNull) // gram-less docs contribute nothing
        .groupBy($"source")
        .agg(expr("graft_minhash_union(sig)").as("u"))
        .select($"source" +: (0 until 8).map(i =>
          element_at($"u", i + 1).as(s"s$i")): _*)
        .orderBy($"source")
    },
    Some(s"""WITH tg AS ($shinglesSql),
      g AS (SELECT d.source, t.gram FROM tg t
        JOIN documents d ON d.doc_id = t.doc_id)
      SELECT source,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
      FROM g GROUP BY source ORDER BY source"""),
    doc = "SURVEY §2.10 Aggregator extensibility (graft_minhash_union corpus sketch)")

  /** [NS] — cross-source corpus similarity from the q68 union sketches:
    * pairwise MinHash component-match counts between per-source
    * signatures (the constant-size proxy for corpus Jaccard — compare
    * 64-byte sketches, never corpora). The signatures are
    * DETERMINISTIC, so unlike most sketch estimates this contract is
    * exact, not tolerance-boolean. The pair join runs over one
    * aggregated row per source — broadcast-trivial at any corpus size;
    * the interpreted zip_with is fine here because the pair table is
    * sources², not documents². */
  val q90SourceSimilarity = Q(
    "q90_source_similarity",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val sigs = Tables.documents(s, d)
        .select($"source", expr("graft_minhash(text, 3, 8)").as("sig"))
        .filter($"sig".isNotNull)
        .groupBy($"source").agg(expr("graft_minhash_union(sig)").as("u"))
      val a = sigs.select($"source".as("src_a"), $"u".as("ua"))
      val b = sigs.select($"source".as("src_b"), $"u".as("ub"))
      a.join(b, $"src_a" < $"src_b")
        .withColumn("n_match", expr("""aggregate(
            zip_with(ua, ub, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END),
            0L, (acc, v) -> acc + v)"""))
        .select($"src_a", $"src_b", $"n_match",
          expr("(n_match * 100) div 8").as("est_overlap_pct"))
        .orderBy($"src_a", $"src_b")
    },
    Some(s"""WITH tg AS ($shinglesSql),
      g AS (SELECT d.source, t.gram FROM tg t
        JOIN documents d ON d.doc_id = t.doc_id),
      sig AS (SELECT source,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM g GROUP BY source),
      pairs AS (SELECT a.source AS src_a, b.source AS src_b,
        CAST((CASE WHEN a.s0 = b.s0 THEN 1 ELSE 0 END)
          + (CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END)
          + (CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END)
          + (CASE WHEN a.s3 = b.s3 THEN 1 ELSE 0 END)
          + (CASE WHEN a.s4 = b.s4 THEN 1 ELSE 0 END)
          + (CASE WHEN a.s5 = b.s5 THEN 1 ELSE 0 END)
          + (CASE WHEN a.s6 = b.s6 THEN 1 ELSE 0 END)
          + (CASE WHEN a.s7 = b.s7 THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        FROM sig a JOIN sig b ON a.source < b.source)
      SELECT src_a, src_b, n_match, (n_match * 100) // 8 AS est_overlap_pct
      FROM pairs ORDER BY src_a, src_b"""),
    doc = "[NS] cross-source sketch similarity (exact: deterministic signatures)")

  /** D5 closure — near-dup CLUSTERS from q24's candidate pairs via
    * connected components (hash-min label propagation — see
    * [[graft.operators.Dedup.connectedComponents]]). Pairwise survivors
    * under-merge when similarity chains (a~b~c without a~c); the
    * component representative is the true transitive dedup survivor. The
    * oracle computes the same closure with WITH RECURSIVE reachability —
    * the iterating Spark fixpoint vs set-based recursion, same bits. */
  val q72DedupComponents = Q(
    "q72_dedup_components",
    (s, d) => {
      import s.implicits._
      val pairs = Dedup.minhashLshCandidates(Tables.documents(s, d),
        "doc_id", "text", shingleN = 3, k = 8, bands = 4)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .groupBy($"rep")
        .agg(count(lit(1)).as("n_docs"), max($"node").as("max_doc"))
        .orderBy($"rep")
    },
    Some(s"""WITH RECURSIVE tg AS ($shinglesSql),
      sig AS (SELECT doc_id,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM tg GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band, s0 AS v0, s1 AS v1 FROM sig UNION ALL
        SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
        SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
        SELECT doc_id, 3, s6, s7 FROM sig),
      pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
        ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
          AND x.doc_id < y.doc_id),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
      labels AS (SELECT src AS node, min(dst) AS rep
        FROM reach GROUP BY src)
      SELECT rep, count(*) AS n_docs, max(node) AS max_doc
      FROM labels GROUP BY rep ORDER BY rep"""),
    doc = "[NS] transitive near-dup clusters (hash-min connected components)")

  /** SURVEY §2.7 [NS] — fuzzy lexicon lookup by edit distance: each doc's
    * leading word matched to its nearest lexicon term
    * ([[graft.operators.Curation.fuzzyNormalize]] — levenshtein argmin,
    * term tie-break, length-band prefilter) — the string-similarity
    * pattern for vocabulary normalization. Per-row expression work, zero
    * joins/shuffles before the final 5-group aggregate; the first word
    * comes from `substring_index` (O(first word)), not a full-text
    * `split` (O(document) array allocation per row — round 3's single
    * largest query cost). maxDist = 8 never binds on this fixture (first
    * words are ≤ 8 chars, terms ≤ 5, so every distance ≤ 8), keeping the
    * oracle's unbounded-argmin form exact. */
  val q76FuzzyLookup = Q(
    "q76_fuzzy_lookup",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", substring_index($"text", " ", 1).as("w"))
        .filter(length($"w") > 0)
      graft.operators.Curation.fuzzyNormalize(docs, "w",
          Seq("the", "quick", "brown", "fox", "jumps"), maxDist = 8)
        .groupBy($"best_term")
        .agg(count(lit(1)).as("n_docs"), sum($"dist").as("sum_dist"))
        .orderBy($"best_term")
    },
    Some("""WITH lex AS (SELECT * FROM (VALUES ('the'), ('quick'),
        ('brown'), ('fox'), ('jumps')) AS t(term)),
      w AS (SELECT doc_id, split_part(text, ' ', 1) AS w FROM documents
        WHERE len(split_part(text, ' ', 1)) > 0),
      scored AS (SELECT doc_id,
          CAST(levenshtein(w.w, lex.term) AS BIGINT) AS dist, term
        FROM w, lex),
      best AS (SELECT doc_id,
          first(term ORDER BY dist, term) AS best_term,
          min(dist) AS dist
        FROM scored GROUP BY doc_id)
      SELECT best_term, count(*) AS n_docs,
        CAST(sum(dist) AS BIGINT) AS sum_dist
      FROM best GROUP BY best_term ORDER BY best_term"""),
    doc = "SURVEY §2.7 [NS] edit-distance fuzzy lexicon match (per-row argmin)")

  /** [NS] — bigram collocation mining with integer-exact lift: PMI's
    * log is transcendental (never bit-stable across engines), but its
    * ORDER is fully determined by the rational c_ab·N / (c_a·c_b) — so
    * score in scaled integer division and rank on exact counts. The
    * corpus pays ONE explode + one (a,b) count — the marginals and the
    * grand total all derive from that vocabulary²-sized table (eagerly
    * checkpointed so the explode never re-runs), joined back on word
    * keys; the total is a 1-row broadcast cross join, not a driver
    * collect. */
  val q81Collocations = Q(
    "q81_collocations",
    (s, d) => {
      import s.implicits._
      val bi = Tables.documents(s, d)
        .select(split($"text", " ").as("w"))
        .filter(size($"w") >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w) - 2), " +
            "i -> struct(w[i] AS a, w[i+1] AS b))")).as("p"))
        .select($"p.a".as("a"), $"p.b".as("b"))
      val cab = bi.groupBy($"a", $"b").agg(count(lit(1)).as("c_ab"))
        .localCheckpoint(true)
      val ca = cab.groupBy($"a").agg(sum($"c_ab").as("c_a"))
      val cb = cab.groupBy($"b").agg(sum($"c_ab").as("c_b"))
      val tot = cab.agg(sum($"c_ab").as("n_total"))
      cab.join(ca, Seq("a")).join(cb, Seq("b"))
        .crossJoin(broadcast(tot))
        .withColumn("lift_ppm",
          expr("(c_ab * 1000000 * n_total) div (c_a * c_b)"))
        .select(concat($"a", lit(" "), $"b").as("bigram"),
          $"c_ab", $"c_a", $"c_b", $"lift_ppm")
        .orderBy($"c_ab".desc, $"bigram")
        .limit(20)
    },
    Some("""WITH wd AS (SELECT string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      bi AS (SELECT w[i] AS a, w[i + 1] AS b
        FROM wd, unnest(generate_series(1, len(w) - 1)) AS t(i)),
      cab AS (SELECT a, b, count(*) AS c_ab FROM bi GROUP BY 1, 2),
      ca AS (SELECT a, count(*) AS c_a FROM bi GROUP BY 1),
      cb AS (SELECT b, count(*) AS c_b FROM bi GROUP BY 1),
      tot AS (SELECT count(*) AS n_total FROM bi)
      SELECT a || ' ' || b AS bigram, c_ab, c_a, c_b,
        (c_ab * 1000000 * n_total) // (c_a * c_b) AS lift_ppm
      FROM cab JOIN ca USING (a) JOIN cb USING (b), tot
      ORDER BY c_ab DESC, bigram LIMIT 20"""),
    doc = "[NS] bigram collocation lift, integer-exact (PMI order w/o logs)")

  /** [NS] — TF-IDF top terms per source in integer-exact arithmetic:
    * idf's log never bit-matches across engines, but top-k ORDER only
    * needs the rational tf·N/df — scaled integer division, word
    * tie-break. The corpus pays ONE explode into a per-(doc, word) count
    * (checkpointed); term frequency per source AND document frequency
    * both derive from it (df = its per-word row count — each row IS a
    * distinct (doc, word) pair), so no second explode and no separate
    * distinct shuffle. 1-row doc count broadcast; the per-source top-3
    * plans as WindowGroupLimit so no source's term list is fully
    * sorted. */
  val q83TfidfTerms = Q(
    "q83_tfidf_terms",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val base = docs
        .select($"doc_id", $"source",
          explode(split($"text", " ")).as("word"))
        .filter(length($"word") > 0)
        .groupBy($"doc_id", $"source", $"word")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val tf = base.groupBy($"source", $"word")
        .agg(sum($"c").as("tf"))
      val dfreq = base.groupBy($"word").agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy($"source")
        .orderBy($"score".desc, $"word")
      tf.join(dfreq, Seq("word"))
        .crossJoin(broadcast(nd))
        .withColumn("score", expr("(tf * 1000000 * n_docs) div df"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"source", $"rk", $"word", $"tf", $"df", $"score")
        .orderBy($"source", $"rk")
    },
    Some("""WITH w AS (SELECT doc_id, source,
        unnest(string_split(text, ' ')) AS word FROM documents),
      ww AS (SELECT * FROM w WHERE len(word) > 0),
      tf AS (SELECT source, word, count(*) AS tf FROM ww GROUP BY 1, 2),
      dfreq AS (SELECT word, count(*) AS df FROM
        (SELECT DISTINCT doc_id, word FROM ww) GROUP BY 1),
      nd AS (SELECT count(*) AS n_docs FROM documents),
      sc AS (SELECT source, word, tf, df,
          (tf * 1000000 * n_docs) // df AS score
        FROM tf JOIN dfreq USING (word), nd),
      r AS (SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY score DESC, word) AS rk FROM sc)
      SELECT source, rk, word, tf, df, score FROM r
      WHERE rk <= 3 ORDER BY source, rk"""),
    doc = "[NS] per-source TF-IDF top terms, integer-exact ranking")

  /** D5 closure, high-diameter scale path: the SAME clusters as q72 but
    * via hash-min + pointer doubling
    * ([[graft.operators.Dedup.connectedComponentsDoubling]]) — rounds
    * grow with log2(diameter), not diameter. The oracle IS q72's
    * `WITH RECURSIVE` SQL: a green row proves the doubling variant is
    * bit-identical to plain propagation, the same twin pattern that
    * certifies q52's PPJoin against q23's oracle. */
  val q78CcDoubling = Q(
    "q78_cc_doubling",
    (s, d) => {
      import s.implicits._
      val pairs = Dedup.minhashLshCandidates(Tables.documents(s, d),
        "doc_id", "text", shingleN = 3, k = 8, bands = 4)
      Dedup.connectedComponentsDoubling(pairs, "doc_a", "doc_b")
        .groupBy($"rep")
        .agg(count(lit(1)).as("n_docs"), max($"node").as("max_doc"))
        .orderBy($"rep")
    },
    q72DedupComponents.oracle,
    doc = "[NS] near-dup clusters via pointer-doubling CC (log-round twin of q72)")

  /** D5 closure, the ONE auto-adaptive entry point: same clusters as
    * q72/q78 via [[graft.operators.Dedup.connectedComponentsHybrid]] —
    * hash-min rounds (1 shuffle each, right for dense dup clusters) that
    * AUTO-ESCALATE to pointer doubling when the changed-count decay
    * stalls (chain-shaped graphs). Oracle IS q72's `WITH RECURSIVE` SQL,
    * the third member of the twin family; stallRounds = 1 makes the
    * escalated phase actually run on this fixture, so the green row
    * certifies the mixed hash-min→doubling label sequence, not just
    * whichever single variant happened to finish first. */
  val q97CcHybrid = Q(
    "q97_cc_hybrid",
    (s, d) => {
      import s.implicits._
      val pairs = Dedup.minhashLshCandidates(Tables.documents(s, d),
        "doc_id", "text", shingleN = 3, k = 8, bands = 4)
      Dedup.connectedComponentsHybrid(pairs, "doc_a", "doc_b",
          stallRounds = 1)
        .groupBy($"rep")
        .agg(count(lit(1)).as("n_docs"), max($"node").as("max_doc"))
        .orderBy($"rep")
    },
    q72DedupComponents.oracle,
    doc = "[NS] near-dup clusters via auto-escalating hybrid CC (twin of q72/q78)")

  /** SURVEY §2.10's second custom Aggregator behind an oracle (q101):
    * grouped top-k via [[graft.functions.TopKAggregator]] — per-source
    * top-3 docs by token count (id tie-break). The aggregation state is
    * O(k) per group and folds map-side, so a group's full extent never
    * sorts anywhere — the window form the ORACLE uses must sort each
    * whole group; a green row proves the bounded-heap fold equals it. */
  val q101TopkAgg = Q(
    "q101_topk_agg",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d)
        .select($"source", $"doc_id",
          size(split($"text", " ")).cast("long").as("n_tokens"))
        .groupBy($"source")
        .agg(expr("graft_top3(n_tokens, doc_id)").as("t"))
        .select($"source", posexplode($"t").as(Seq("i", "p")))
        .select($"source", ($"i" + 1).cast("long").as("rk"),
          $"p._2".as("doc_id"), $"p._1".as("n_tokens"))
        .orderBy($"source", $"rk")
    },
    Some("""WITH t AS (SELECT source, doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        row_number() OVER (PARTITION BY source
          ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS rk
      FROM documents)
      SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_tokens FROM t
      WHERE rk <= 3 ORDER BY source, rk"""),
    doc = "SURVEY §2.10 Aggregator: bounded mergeable top-k vs the window oracle")

  /** [NS] — model-gate filtering, the stage after q27's heuristics in a
    * real curation pipeline: a (fixed, "trained") linear quality model
    * over integer text features gates documents at ingest; output =
    * per-lang survivor counts + exact sums. Weights are plan literals
    * ([[graft.operators.Curation.linearModelScore]]): no join/shuffle in
    * the gate, and integer math means the SAME rows pass on both
    * engines — no sigmoid-threshold float hazard (the sigmoid is
    * monotone, so the linear threshold is the identical gate). Weights
    * chosen so no fixture row scores exactly 0 at any SF (verified in
    * DuckDB: 416/84, 419/81, 4141/859 pass/fail at sf0.001/0.01/0.1). */
  val q103ModelGate = Q(
    "q103_model_gate",
    (s, d) => {
      import s.implicits._
      val nTokens = size(split($"text", " ")).cast("long")
      val nPunct = (length($"text") -
        length(regexp_replace($"text", "[.,!?;:]", ""))).cast("long")
      Tables.documents(s, d)
        .withColumn("score", graft.operators.Curation.linearModelScore(
          Seq($"n_chars", nTokens, nPunct), Seq(2L, 25L, -35L), -900L))
        .filter($"score" > 0)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_pass"), sum($"score").as("sum_score"),
          sum($"n_chars").as("sum_chars"))
        .orderBy($"lang")
    },
    Some("""WITH f AS (SELECT lang, n_chars,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
          AS BIGINT) AS n_punct
      FROM documents),
      sc AS (SELECT lang, n_chars,
        2*n_chars + 25*n_tokens - 35*n_punct - 900 AS score FROM f)
      SELECT lang, count(*) AS n_pass,
        CAST(sum(score) AS BIGINT) AS sum_score,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM sc WHERE score > 0 GROUP BY lang ORDER BY lang"""),
    doc = "[NS] linear model-scoring gate (fasttext-style quality filter shape)")

  /** [NS] — perceptual-hash near-dup pairs, oracle-checked (q108): the
    * REAL [[graft.operators.Multimodal.averageHash]] integer path (block
    * means, truncating divisions, strict-greater threshold) runs over an
    * arithmetically generated pixel grid — no codec, so DuckDB can
    * recompute the same cells — then pairs ride the generic
    * [[Dedup.hammingPairs64]] band join. The fixture (synthPixel) places
    * sibling images at Hamming 0, 1, 2, 3 AND at 4–5, so the green row
    * proves both the hash math and that band verification keeps exactly
    * the ≤3 set. The oracle brute-forces all pairs bit-by-bit (the
    * quadratic twin, as q93's is to its banding) — bit packing itself is
    * order-invariant under Hamming and is pinned on real JPEGs in
    * MultimodalSpec. */
  val q108PhashPairs = Q(
    "q108_phash_pairs",
    (s, d) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val ids = Tables.documents(s, d)
        .select($"doc_id".as("id")).filter($"id" < 20)
      val hashes = graft.operators.Multimodal.syntheticAHash(ids, 32, 32)
      Dedup.hammingPairs64(hashes, "id", "phash", maxDist = 3)
        .orderBy($"doc_a", $"doc_b")
    },
    Some("""WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 20),
      px AS (SELECT id, x, y,
          CASE WHEN id % 2 = 1 AND x < 8 AND y < 16
            THEN least(255, (x*7 + y*13 + (id - id%2)*31) % 256
              + 50*((id//2)%4))
            ELSE (x*7 + y*13 + (id - id%2)*31) % 256 END AS r,
          (x*11 + y*5 + (id - id%2)*17) % 256 AS g,
          (x*3 + y*19 + (id - id%2)*23) % 256 AS b
        FROM ids, range(0,32) t1(x), range(0,32) t2(y)),
      cells AS (SELECT id, x//4 AS cx, y//4 AS cy,
          sum(299*r + 587*g + 114*b) // count(*) AS cmean
        FROM px GROUP BY id, x//4, y//4),
      gmeans AS (SELECT id, sum(cmean) // 64 AS gm FROM cells GROUP BY id),
      cbits AS (SELECT c.id, cy*8+cx AS c,
          CASE WHEN cmean > gm THEN 1 ELSE 0 END AS bit
        FROM cells c JOIN gmeans USING (id))
      SELECT a.id AS doc_a, b.id AS doc_b,
        CAST(count(CASE WHEN a.bit <> b.bit THEN 1 END) AS BIGINT) AS hamming
      FROM cbits a JOIN cbits b ON a.c = b.c AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING count(CASE WHEN a.bit <> b.bit THEN 1 END) <= 3
      ORDER BY doc_a, doc_b"""),
    doc = "[NS] perceptual aHash near-dup pairs over a synthetic grid (oracle-checks the hash + banding math)")

  /** [NS] — first-sight NEAR-dup ingest gate, batch twin (q109): a doc
    * is admitted iff it is the first claimant of ALL FOUR of its SimHash
    * band keys ([[Dedup.nearDupGateBatch]]; arrival order = doc_id here).
    * This is the batch-domain anchor for the STREAMING gate
    * ([[graft.streaming.EventStream.bandFirstSight]]) — StreamingSpec
    * proves the streamed form equal to this one across disordered
    * micro-batches and a checkpoint restart, and this row proves the
    * shared claim/conjunction semantics against DuckDB. Claims are
    * per-band and unconditional, so the rule is one aggregation, not a
    * sequential scan — the property that makes the gate both
    * oracle-expressible and shuffle-bounded at 100 TB. */
  val q109NearDupGate = Q(
    "q109_neardup_gate",
    (s, d) => Stage("DocQueries.q109NearDupGate") { implicit st =>
      import s.implicits._
      graft.operators.Dedup.nearDupGateBatch(
          Tables.documents(s, d), "doc_id", "text", tsCol = "doc_id")
        .select($"id".as("doc_id"))
        .orderBy($"doc_id")
    },
    Some("""WITH words AS (SELECT DISTINCT doc_id,
          unnest(list_distinct(string_split(text, ' '))) AS w FROM documents),
      bits AS (SELECT doc_id, j,
          CASE WHEN (strpos('0123456789abcdef', h[(j // 4) + 1]) - 1)
            // CAST(pow(2, 3 - (j % 4)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1
            END AS wgt
        FROM (SELECT doc_id, md5(w) AS h FROM words),
          unnest(range(0, 64)) AS t(j)),
      sums AS (SELECT doc_id, j, sum(wgt) AS s FROM bits GROUP BY doc_id, j),
      bk AS (SELECT doc_id, j // 16 AS band,
          string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
            ORDER BY j) AS key
        FROM sums GROUP BY doc_id, j // 16),
      claims AS (SELECT band, key, min(doc_id) AS winner
        FROM bk GROUP BY band, key)
      SELECT bk.doc_id FROM bk JOIN claims USING (band, key)
      WHERE claims.winner = bk.doc_id
      GROUP BY bk.doc_id HAVING count(*) = 4
      ORDER BY doc_id"""),
    doc = "[NS] first-sight near-dup ingest gate (per-band claims, conjunctive admission)")

  /** SQL twin of [[shinglesSql]] over an arbitrary (doc_id, text) rel. */
  private[queries] def shinglesSqlFrom(rel: String): String =
    s"""SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 1),
      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM $rel)"""

  /** SQL twin of the k=8 MinHash signature over a trigram rel (q24's
    * construction: components 2i/2i+1 = the 60-bit md5 halves). */
  private[queries] def minhashSigSqlFrom(tgRel: String): String =
    "SELECT doc_id,\n" + (0 until 4).flatMap { i =>
      Seq(
        s"min(CAST('0x' || substr(md5('$i:' || gram), 1, 15) AS BIGINT)) AS s${2 * i}",
        s"min(CAST('0x' || substr(md5('$i:' || gram), 17, 15) AS BIGINT)) AS s${2 * i + 1}")
    }.mkString(",\n") + s"\nFROM $tgRel GROUP BY doc_id"

  /** SQL twin of [[Dedup.lshBands]] at k=8 / 4 bands over a sig rel. */
  private[queries] def lshBandsSqlFrom(sigRel: String): String =
    (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, s${2 * b} AS v0, s${2 * b + 1} AS v1 FROM $sigRel")
      .mkString(" UNION ALL ")

  /** D5 [NS] — incremental batch-vs-archive dedup (q111): the documents
    * table split deterministically into an ARCHIVE (doc_id % 5 != 0) and
    * an incoming BATCH (doc_id % 5 = 0); admit batch docs through
    * [[Dedup.dedupIncremental]]'s four layers (batch exact, archive
    * exact, archive band hit, within-batch first-sight band claim). The
    * oracle replays all four layers from q24's signature construction. */
  val q111DedupIncremental = Q(
    "q111_dedup_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupIncremental(
          archive = docs.filter(col("doc_id") % 5 =!= 0),
          incoming = docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    Some(s"""WITH inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
      arc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      inc0 AS (SELECT doc_id, text FROM (SELECT doc_id, text,
          min(doc_id) OVER (PARTITION BY md5(text)) AS w FROM inc)
        WHERE doc_id = w),
      inc1 AS (SELECT doc_id, text FROM inc0
        WHERE md5(text) NOT IN (SELECT md5(text) FROM arc)),
      tgI AS (${shinglesSqlFrom("inc1")}),
      sigI AS (${minhashSigSqlFrom("tgI")}),
      bI AS (${lshBandsSqlFrom("sigI")}),
      tgA AS (${shinglesSqlFrom("arc")}),
      sigA AS (${minhashSigSqlFrom("tgA")}),
      bA AS (${lshBandsSqlFrom("sigA")}),
      hit AS (SELECT DISTINCT i.doc_id FROM bI i JOIN bA a
        ON i.band = a.band AND i.v0 = a.v0 AND i.v1 = a.v1),
      inc2 AS (SELECT doc_id FROM inc1
        WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
      ib2 AS (SELECT * FROM bI WHERE doc_id IN (SELECT doc_id FROM inc2)),
      cl AS (SELECT band, v0, v1, min(doc_id) AS w FROM ib2 GROUP BY 1, 2, 3),
      st AS (SELECT i.doc_id, count(*) AS nb,
          sum(CASE WHEN c.w = i.doc_id THEN 1 ELSE 0 END) AS nw
        FROM ib2 i JOIN cl c
          ON i.band = c.band AND i.v0 = c.v0 AND i.v1 = c.v1
        GROUP BY i.doc_id),
      ok AS (SELECT doc_id FROM st WHERE nb = nw
        UNION SELECT doc_id FROM inc2
          WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM bI))
      SELECT doc_id FROM inc2 WHERE doc_id IN (SELECT doc_id FROM ok)
      ORDER BY doc_id"""),
    doc = "[NS] incremental batch-vs-archive near-dup dedup (probe-only archive)")

  /** D5 [NS] — dedup-index LIFECYCLE (q112): q111's semantics served
    * from the STORED index ([[graft.operators.DedupIndex]]) — the first
    * invocation per corpus derives and persists the archive's hash set
    * and band-key table; the gate itself reads archive state from
    * parquet only (no archive text anywhere in the plan). Same
    * from-scratch oracle as q111: recomputing the whole index in SQL is
    * a strictly stronger check on the stored-probe path than reading the
    * stored parquet back would be (corrupt stored keys would
    * self-consistently pass a read-back oracle but cannot match a
    * recomputation — q107's oracle argument, applied to dedup). */
  val q112DedupIndexGate = Q(
    "q112_dedup_index_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.operators.DedupIndex.defaultDir(d)
      graft.operators.DedupIndex.buildIfAbsent(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, dir = dir, corpusTag = d)
      graft.operators.DedupIndex.gate(s, dir,
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    q111DedupIncremental.oracle,
    doc = "[NS] dedup lifecycle: gate a batch from the persisted hash/band index")

  /** D5 [NS] — dedup-index forget certificate (q349):
    * [[graft.operators.DedupIndex.removeDocs]] — build the archive's
    * hash/band index on the FULL doc_id % 5 != 0 archive, FORGET the
    * doc_id ≡ 3 (mod 7) slice (per-doc rows anti-join out — the easy
    * case of the q347 pattern), then gate the % 5 = 0 batch against
    * the decremented index. The oracle replays q111's four layers
    * against the REMAINING archive only: a green row proves
    * decremental forget ≡ remaining-only rebuild at the dedup archive
    * — closing the one stored artifact that had no certified forget
    * (the round-8 verdict's compliance hole: purged docs' band/hash
    * rows must stop gating future twins of deleted content). */
  val q349DedupIndexForget = Q(
    "q349_dedup_index_forget",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val arc = docs.filter(col("doc_id") % 5 =!= 0)
      val dir = graft.operators.DedupIndex.defaultDir(d + "#forget")
      graft.operators.Generation.withFingerprint(dir, d + "#dedup+forget") {
        graft.operators.DedupIndex.build(arc, "doc_id", "text",
          shingleN = 3, k = 8, bands = 4, dir = dir)
        graft.operators.DedupIndex.removeDocs(s, dir,
          arc.filter(col("doc_id") % 7 === 3), "doc_id")
      }
      graft.operators.DedupIndex.gate(s, dir,
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    q111DedupIncremental.oracle.map(_.replace(
      "arc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0)",
      "arc AS (SELECT doc_id, text FROM documents " +
        "WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 3)")),
    doc = "[NS] dedup-index forget: per-doc anti-join removal == remaining-only rebuild")

  /** D5 [NS] — graded novelty from the stored dedup index (q229):
    * [[graft.operators.DedupIndex.noveltyGrade]] — the q112 gate's
    * binary admit/reject widened to a review-priority score: per batch
    * doc, exact-hash membership in the archive plus the COUNT of band
    * collisions (0..4). The production reading: grade-4 docs are
    * near-certain dups (auto-drop), grade-0 are novel (auto-admit), the
    * middle grades are the only rows that justify an exact-Jaccard
    * verification pass — at 100 TB the grade decides where the
    * expensive verification budget goes. Probe-only plan; oracle
    * recomputes hash set and band keys from scratch. */
  val q229NoveltyGrade = Q(
    "q229_novelty_grade",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.operators.DedupIndex.defaultDir(d)
      graft.operators.DedupIndex.buildIfAbsent(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, dir = dir, corpusTag = d)
      graft.operators.DedupIndex.noveltyGrade(s, dir,
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH inc AS (SELECT doc_id, text FROM documents
        WHERE doc_id % 5 = 0),
      arc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      tgI AS (${shinglesSqlFrom("inc")}),
      sigI AS (${minhashSigSqlFrom("tgI")}),
      bI AS (${lshBandsSqlFrom("sigI")}),
      tgA AS (${shinglesSqlFrom("arc")}),
      sigA AS (${minhashSigSqlFrom("tgA")}),
      bA AS (${lshBandsSqlFrom("sigA")}),
      hits AS (SELECT i.doc_id,
          CAST(count(DISTINCT i.band) AS BIGINT) AS bands_hit
        FROM bI i JOIN (SELECT DISTINCT band, v0, v1 FROM bA) a
          ON i.band = a.band AND i.v0 = a.v0 AND i.v1 = a.v1
        GROUP BY i.doc_id),
      ah AS (SELECT DISTINCT md5(text) AS h FROM arc)
      SELECT i.doc_id,
        md5(i.text) IN (SELECT h FROM ah) AS exact_dup,
        coalesce(hits.bands_hit, 0) AS bands_hit
      FROM inc i LEFT JOIN hits ON hits.doc_id = i.doc_id
      ORDER BY i.doc_id"""),
    doc = "[NS] graded novelty from the stored dedup index (verification-budget router)")

  /** D5 [NS] — Bloom parameter advisor (q236): the q115 gate's
    * configuration audited ([[graft.operators.Bloom.advisor]]) —
    * measured fill ratio, the fill^k false-positive ESTIMATE, and the
    * MEASURED false-positive rate over the batch's non-member band
    * keys, in one row. The honesty check on a probabilistic gate:
    * q115 shows the gate working; this shows whether its parameters
    * are right (estimate ≈ measurement ⇒ the md5 slices behave like
    * the independent hashes the formula assumes). */
  val q236BloomAdvisor = Q(
    "q236_bloom_advisor",
    (s, d) => {
      val docs = Tables.documents(s, d)
      def keys(df: org.apache.spark.sql.DataFrame) =
        Dedup.bandTable(df, "doc_id", "text", 3, 8, 4)
          .select(concat_ws(":", col("band"), col("v0"), col("v1"))
            .as("bk"))
      graft.operators.Bloom.advisor(
        keys(docs.filter(col("doc_id") % 5 =!= 0)),
        keys(docs.filter(col("doc_id") % 5 === 0)),
        "bk", "bk", mBits = 8192, k = 3)
    },
    Some(s"""WITH inc AS (SELECT doc_id, text FROM documents
        WHERE doc_id % 5 = 0),
      arc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      tgI AS (${shinglesSqlFrom("inc")}),
      sigI AS (${minhashSigSqlFrom("tgI")}),
      bI AS (${lshBandsSqlFrom("sigI")}),
      tgA AS (${shinglesSqlFrom("arc")}),
      sigA AS (${minhashSigSqlFrom("tgA")}),
      bA AS (${lshBandsSqlFrom("sigA")}),
      aks AS (SELECT DISTINCT band || ':' || v0 || ':' || v1 AS ak
        FROM bA),
      ones AS (SELECT DISTINCT
          CAST('0x' || substr(md5(ak), 1 + 8 * t.j, 8) AS BIGINT) % 8192
            AS p
        FROM aks, unnest([0, 1, 2]) AS t(j)),
      pks AS (SELECT DISTINCT band || ':' || v0 || ':' || v1 AS pk
        FROM bI),
      ppos AS (SELECT DISTINCT pk,
          CAST('0x' || substr(md5(pk), 1 + 8 * t.j, 8) AS BIGINT) % 8192
            AS p
        FROM pks, unnest([0, 1, 2]) AS t(j)),
      tot AS (SELECT pk, count(*) AS nt FROM ppos GROUP BY pk),
      hit AS (SELECT pk, count(*) AS nh FROM ppos
        WHERE p IN (SELECT p FROM ones) GROUP BY pk),
      v AS (SELECT t.pk, coalesce(nh, 0) = nt AS maybe,
          t.pk IN (SELECT ak FROM aks) AS mem
        FROM tot t LEFT JOIN hit USING (pk)),
      onesn AS (SELECT CAST(count(*) AS BIGINT) AS ones_bits FROM ones),
      an AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM aks),
      pa AS (SELECT
          CAST(count(CASE WHEN NOT mem THEN 1 END) AS BIGINT)
            AS n_nonmember,
          CAST(count(CASE WHEN maybe AND NOT mem THEN 1 END) AS BIGINT)
            AS n_fp FROM v)
      SELECT CAST(8192 AS BIGINT) AS m_bits, CAST(3 AS BIGINT)
          AS k_hashes,
        n_keys, ones_bits,
        CAST((1000000 * ones_bits) // 8192 AS BIGINT) AS fill_ppm,
        CAST((1000000 * ones_bits * ones_bits * ones_bits)
          // (8192::BIGINT * 8192 * 8192) AS BIGINT) AS fp_est_ppm,
        n_nonmember, n_fp,
        CASE WHEN n_nonmember > 0 THEN
          CAST((1000000 * n_fp) // n_nonmember AS BIGINT)
          END AS fp_measured_ppm
      FROM an, onesn, pa"""),
    doc = "[NS] Bloom parameter advisor (estimated vs measured FP on one row)")

  /** D5 [NS] — Bloom-filter near-dup gate (q115): the archive's band
    * keys folded into an 8192-bit filter ([[graft.functions
    * .BloomFilterAggregator]] — mergeable, broadcast as ONE row), each
    * batch doc flagged `maybe_near` by shuffle-free bit probes and
    * `confirmed` by the exact band join over ONLY the maybe rows
    * ([[graft.operators.Bloom.gateNearDups]]). The oracle reproduces the
    * exact bit placement (positions are md5 slices mod m — no bitset
    * needed in SQL: "all k bits set" ≡ "all k positions in the archive's
    * position set"), so false positives hash-match too: the filter's
    * FP behavior is deterministic, not statistical, once m/k are fixed.
    * At sf0.01 the fill ratio is ≈0.44, so the maybe set is real work
    * saved (most clean docs never reach the join) with visible FPs
    * (maybe ∧ ¬confirmed rows) proving the probe isn't a tautology. */
  val q115BloomGate = Q(
    "q115_bloom_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Bloom.gateNearDups(
          archive = docs.filter(col("doc_id") % 5 =!= 0),
          batch = docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", mBits = 8192, bloomK = 3)
        .select(col("doc_id"), col("maybe_near"), col("confirmed"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
      arc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      tgA AS (${shinglesSqlFrom("arc")}),
      sigA AS (${minhashSigSqlFrom("tgA")}),
      bA AS (${lshBandsSqlFrom("sigA")}),
      kA AS (SELECT DISTINCT band || ':' || v0 || ':' || v1 AS bk FROM bA),
      posA AS (SELECT DISTINCT
          CAST('0x' || substr(md5(bk), 1 + 8*j, 8) AS BIGINT) % 8192 AS p
        FROM kA, unnest([0, 1, 2]) AS t(j)),
      tgI AS (${shinglesSqlFrom("inc")}),
      sigI AS (${minhashSigSqlFrom("tgI")}),
      bI AS (${lshBandsSqlFrom("sigI")}),
      kI AS (SELECT doc_id, band || ':' || v0 || ':' || v1 AS bk FROM bI),
      pI AS (SELECT doc_id, bk,
          CAST('0x' || substr(md5(bk), 1 + 8*j, 8) AS BIGINT) % 8192 AS p
        FROM kI, unnest([0, 1, 2]) AS t(j)),
      mk AS (SELECT doc_id, bk,
          bool_and(p IN (SELECT p FROM posA)) AS allset
        FROM pI GROUP BY doc_id, bk),
      md AS (SELECT doc_id, bool_or(allset) AS maybe_near FROM mk
        GROUP BY doc_id),
      conf AS (SELECT DISTINCT i.doc_id FROM kI i
        WHERE i.bk IN (SELECT bk FROM kA)
          AND i.doc_id IN (SELECT doc_id FROM md WHERE maybe_near))
      SELECT inc.doc_id, coalesce(md.maybe_near, false) AS maybe_near,
        (conf.doc_id IS NOT NULL) AS confirmed
      FROM inc LEFT JOIN md USING (doc_id)
        LEFT JOIN conf ON conf.doc_id = inc.doc_id
      ORDER BY inc.doc_id"""),
    doc = "[NS] Bloom-filter near-dup gate (broadcast bitmap, join only the maybe set)")

  /** D5 closure — canonical keep-best selection (q116): q72 names the
    * transitive near-dup clusters; this picks the survivor — the
    * longest doc per cluster, id-ascending tie-break
    * ([[graft.operators.Dedup.keepBest]]). Untouched docs ride through
    * as singleton clusters, so the output IS the deduplicated corpus
    * (with `n_dups` recording how many docs each survivor stands for).
    * The oracle reuses q72's WITH RECURSIVE closure and picks the same
    * winner with an ordered first(); aggregating on `n_dups > 1` rows
    * keeps the interesting surface (real clusters) while total counts
    * pin the singleton passthrough. */
  val q116KeepBest = Q(
    "q116_keep_best",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      // Round 12: STAR-contracted band join (production threshold 64).
      // keepBest consumes the pairs only through its CC closure, and
      // within a bucket the clique and the hub star have identical
      // components (q371's certified theorem) — so `rep`, `n_dups`, and
      // the winner are unchanged while the hot-bucket shuffle drops
      // from quadratic to linear (the q144-class DNF the round-11 skew
      // campaign measured no longer reaches this production path).
      val pairs = Dedup.minhashLshStarEdges(docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, hotThreshold = 64)
      Dedup.keepBest(docs.select($"doc_id", $"text"), pairs, "doc_id",
          length($"text").cast("long"))
        .select($"doc_id", $"n_dups", length($"text").cast("long").as("len"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE tg AS ($shinglesSql),
      sig AS (SELECT doc_id,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM tg GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band, s0 AS v0, s1 AS v1 FROM sig UNION ALL
        SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
        SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
        SELECT doc_id, 3, s6, s7 FROM sig),
      pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
        ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
          AND x.doc_id < y.doc_id),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
      labels AS (SELECT src AS node, min(dst) AS rep
        FROM reach GROUP BY src),
      scored AS (SELECT d.doc_id,
          CAST(length(d.text) AS BIGINT) AS len,
          coalesce(l.rep, d.doc_id) AS comp
        FROM documents d LEFT JOIN labels l ON l.node = d.doc_id),
      win AS (SELECT comp,
          first(doc_id ORDER BY len DESC, doc_id) AS doc_id,
          first(len ORDER BY len DESC, doc_id) AS len,
          count(*) AS n_dups
        FROM scored GROUP BY comp)
      SELECT doc_id, n_dups, len FROM win ORDER BY doc_id"""),
    doc = "[NS] canonical keep-best selection over near-dup clusters")

  /** §2.10 [NS] — Misra–Gries heavy hitters (q119): the corpus's top-20
    * tokens from a BOUNDED sketch ([[graft.functions
    * .MisraGriesAggregator]], capacity 64) — O(capacity) state per map
    * task, mergeable combine, no full-width count shuffle. The fixture
    * has ~31 distinct tokens < capacity, so the sketch runs in its
    * exact regime (no decrement ever fires) and the oracle is the plain
    * GROUP BY count — checking the whole reduce/merge path bit-for-bit.
    * The approximate regime's under-count bound (≤ N/(capacity+1),
    * never over) is pinned adversarially in HeavyHittersSpec, where an
    * oracle can't follow (estimates there are merge-order-dependent by
    * construction). */
  val q119HeavyHitters = Q(
    "q119_heavy_hitters",
    (s, d) => {
      import s.implicits._
      val mg = udaf(graft.functions.MisraGriesAggregator(64))
      Tables.documents(s, d)
        .select(explode(split($"text", " ")).as("token"))
        .filter(length($"token") > 0)
        .agg(mg($"token").as("m"))
        .select(explode(map_entries($"m")).as("e"))
        .select($"e.key".as("token"), $"e.value".as("est_count"))
        .orderBy($"est_count".desc, $"token".asc)
        .limit(20)
    },
    Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
        FROM documents),
      c AS (SELECT token, CAST(count(*) AS BIGINT) AS est_count FROM toks
        WHERE length(token) > 0 GROUP BY token)
      SELECT token, est_count FROM c
      ORDER BY est_count DESC, token LIMIT 20"""),
    doc = "[NS] Misra-Gries heavy hitters (bounded mergeable frequency sketch)")

  /** [NS] — asymmetric containment join ([[Dedup.containmentPairs]]):
    * directional near-inclusion |g(src)∩g(dst)|/|g(src)| ≥ 0.8 — the
    * decontamination relation Jaccard misses (a short doc pasted inside
    * a long one). Spark side is the one-sided prefix-filtered scale
    * path; the oracle is the quadratic shared-gram twin (oracle-only,
    * the q23/q52 convention). Containment is an int/int division →
    * bit-identical doubles. */
  val q141Containment = Q(
    "q141_containment",
    (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, minContain = 0.8)
        .orderBy(col("doc_src"), col("doc_dst")),
    Some(s"""WITH tg AS ($shinglesSql),
      sz AS (SELECT doc_id, count(*) AS n FROM tg GROUP BY doc_id),
      p AS (SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst,
          CAST(count(*) AS BIGINT) AS shared
        FROM tg a JOIN tg b ON a.gram = b.gram AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT doc_src, doc_dst, shared,
        CAST(shared AS DOUBLE) / sz.n AS containment
      FROM p JOIN sz ON sz.doc_id = doc_src
      WHERE CAST(shared AS DOUBLE) / sz.n >= 0.8
      ORDER BY doc_src, doc_dst"""),
    doc = "[NS] asymmetric containment join (one-sided prefix filter)")

  /** [NS] — LSH-blocked fuzzy join ([[Dedup.lshFuzzyPairs]]): the
    * ER-scaling fix the 10× table filed against q140 — candidates from
    * the SimHash Hamming band join (content-derived blocking, volume
    * grows with near-dup density, not corpus size), verified with the
    * same thresholded levenshtein. Oracle: the quadratic Hamming twin
    * joined back to texts with the same edit filter. */
  val q144LshFuzzy = Q(
    "q144_lsh_fuzzy",
    (s, d) =>
      Dedup.lshFuzzyPairs(Tables.documents(s, d), "doc_id", "text",
        maxDist = 40)
        .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH $simhashPairsCtes
      SELECT hp.doc_a, hp.doc_b, hp.hamming,
        CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
      FROM hp JOIN documents ta ON ta.doc_id = hp.doc_a
        JOIN documents tb ON tb.doc_id = hp.doc_b
      WHERE abs(length(ta.text) - length(tb.text)) <= 40
        AND levenshtein(ta.text, tb.text) <= 40
      ORDER BY doc_a, doc_b"""),
    doc = "[NS] LSH-blocked fuzzy join (content-derived ER blocking)")

  /** [NS] — incremental CC maintenance ([[Dedup.ccIncremental]]): CC
    * labels built from the archive's pairs (docs with id % 3 ≠ 0), then
    * the delta pairs (any endpoint new) folded in through the contracted
    * quotient graph — O(delta + touched components), the archive's edges
    * never re-shuffle. Certified against THE SAME oracle SQL as q72's
    * from-scratch closure: incremental ≡ batch, the q127/q128 move for
    * the dedup graph. */
  val q145CcIncremental = Q(
    "q145_cc_incremental",
    (s, d) => {
      import s.implicits._
      // Round 12: the edge feed is the STAR-contracted band join
      // (production threshold 64). The archive/delta SPLIT of the edge
      // list differs from the all-pairs split (a hot bucket's two old
      // members may now connect through a new hub instead of directly),
      // so labels0 is a different — but valid — intermediate state; the
      // FINAL closure folds every delta edge back in, and CC over the
      // full star edge set equals CC over the full all-pairs set
      // (q371's theorem). Same oracle, linear hot-bucket shuffle.
      val pairs = Dedup.minhashLshStarEdges(Tables.documents(s, d),
          "doc_id", "text", shingleN = 3, k = 8, bands = 4,
          hotThreshold = 64)
        .localCheckpoint() // split into archive/delta below — one compute
      val oldPair = $"doc_a" % 3 =!= 0 && $"doc_b" % 3 =!= 0
      val labels0 = Dedup.connectedComponents(pairs.filter(oldPair),
        "doc_a", "doc_b")
      Dedup.ccIncremental(labels0, pairs.filter(!oldPair),
          "doc_a", "doc_b")
        .groupBy($"rep")
        .agg(count(lit(1)).as("n_docs"), max($"node").as("max_doc"))
        .orderBy($"rep")
    },
    q72DedupComponents.oracle,
    doc = "[NS] incremental CC maintenance == from-scratch closure (same oracle)")

  /** [NS] — ViT patchify over synthetic pixels (q199): 20 images become
    * their 4×4 grids of per-patch integer luma means
    * ([[graft.operators.Multimodal.syntheticPatchGrid]] — the REAL
    * block-mean kernel the decoded-JPEG path uses, over q108's
    * arithmetic pixel generator, so the patch statistics are
    * oracle-exact without a codec). The patch-rows layout is what a
    * multimodal ingest pipeline shuffles — statistics, never blobs. */
  val q199PatchGrid = Q(
    "q199_patch_grid",
    (s, d) => {
      import s.implicits._
      implicit val sp: org.apache.spark.sql.SparkSession = s
      val ids = Tables.documents(s, d)
        .select($"doc_id".as("id")).filter($"id" < 20)
      graft.operators.Multimodal.syntheticPatchGrid(ids, 32, 32, 4, 4)
        .orderBy($"id", $"patch")
    },
    Some("""WITH ids AS (SELECT doc_id AS id FROM documents
        WHERE doc_id < 20),
      px AS (SELECT id, x, y,
          CASE WHEN id % 2 = 1 AND x < 8 AND y < 16
            THEN least(255, (x*7 + y*13 + (id - id%2)*31) % 256
              + 50*((id//2)%4))
            ELSE (x*7 + y*13 + (id - id%2)*31) % 256 END AS r,
          (x*11 + y*5 + (id - id%2)*17) % 256 AS g,
          (x*3 + y*19 + (id - id%2)*23) % 256 AS b
        FROM ids, range(0,32) t1(x), range(0,32) t2(y)),
      p AS (SELECT id, (y // 8) * 4 + (x // 8) AS patch,
          sum(299*r + 587*g + 114*b) // count(*) AS pmean
        FROM px GROUP BY id, (y // 8) * 4 + (x // 8))
      SELECT id, CAST(patch AS INT) AS patch,
        CAST(pmean AS BIGINT) AS pmean
      FROM p ORDER BY id, patch"""),
    doc = "[NS] ViT patchify: per-patch integer luma means via the real block kernel")

  /** [NS] — KWIC search snippets (q206): the serving feature after
    * retrieval — every document containing "spark" returns its first
    * match position and a fixed-width keyword-in-context window around
    * it, byte-exact in both engines (1-based instr/substr with the same
    * clamping arithmetic). Per-row string kernels; no shuffle beyond
    * the final order. */
  val q206Snippets = Q(
    "q206_snippets",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("pos", instr($"text", "spark").cast("long"))
        .filter($"pos" > 0)
        .withColumn("snip_start", greatest(lit(1L), $"pos" - 20))
        .withColumn("snippet",
          expr("substring(text, cast(snip_start as int), 50)"))
        .select($"doc_id", $"pos", $"snip_start",
          md5($"snippet").as("snippet_hash"),
          length($"snippet").cast("long").as("snip_len"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, CAST(strpos(text, 'spark') AS BIGINT) AS pos,
        greatest(1, CAST(strpos(text, 'spark') AS BIGINT) - 20)
          AS snip_start,
        md5(substr(text,
          CAST(greatest(1, strpos(text, 'spark') - 20) AS INT), 50))
          AS snippet_hash,
        CAST(length(substr(text,
          CAST(greatest(1, strpos(text, 'spark') - 20) AS INT), 50))
          AS BIGINT) AS snip_len
      FROM documents WHERE strpos(text, 'spark') > 0
      ORDER BY doc_id"""),
    doc = "[NS] KWIC snippets: first-match window extraction, byte-exact")

  /** [NS] — vocabulary growth curve (q207): distinct token count after
    * the first N documents, for a ladder of N — the Heaps'-law audit
    * that tells a tokenizer team how fast the open vocabulary grows
    * with corpus size (sub-linear growth = vocabulary saturating;
    * linear = noisy/unnormalized text). SINGLE-PASS plan: one explode +
    * ONE aggregate down to the tiny (rung-bucket, token, count) frame;
    * the whole ladder is then derived from that frame — a token's
    * first-occurrence bucket drives the vocabulary curve, bucket sums
    * drive the token curve, and the cumulative "< N" reads are one
    * ≤(V·B)-row broadcast range-join against the 5-row rung spine — a
    * single LINEAR pipeline (no self-join, no branch, so nothing to
    * re-scan; plan-gated in PlanQualitySpec), where the previous form
    * ran one filtered countDistinct per rung = 5 corpus scans, which at
    * 100 TB is 5 passes for a 5-row answer. */
  val q207VocabGrowth = Q(
    "q207_vocab_growth",
    (s, d) => {
      import s.implicits._
      val tb = Tables.documents(s, d)
        .filter($"doc_id" < 500)
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .groupBy(expr("doc_id div 100").as("bucket"), $"tok")
        .agg(count(lit(1)).as("c"))
      val spine = s.range(1, 6).select(($"id" * 100L).as("n_docs"))
      // a bucket's rows belong to every rung above it; distinct tokens
      // and token sums per rung then fall out of ONE tiny aggregate
      spine.join(broadcast(tb), $"bucket" * 100 < $"n_docs", "left")
        .groupBy($"n_docs")
        .agg(countDistinct($"tok").as("n_vocab"),
          sum($"c").as("n_tokens"))
        .filter($"n_tokens".isNotNull)
        .orderBy($"n_docs")
    },
    Some("""WITH toks AS (SELECT doc_id,
          unnest(string_split(text, ' ')) AS tok FROM documents)
      SELECT n_docs, CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab,
        CAST(count(*) AS BIGINT) AS n_tokens
      FROM toks, (SELECT CAST(unnest([100, 200, 300, 400, 500]) AS BIGINT)
        AS n_docs)
      WHERE doc_id < n_docs
      GROUP BY n_docs ORDER BY n_docs"""),
    doc = "[NS] vocabulary growth curve (Heaps'-law audit over a doc-count ladder)")

  /** [NS] — annotation agreement, Cohen's kappa (q196): how much better
    * than chance does the q26 stopword language-ID heuristic agree with
    * the labeled `lang` column ([[graft.operators.Analytics
    * .cohenKappa]]) — the QA summary of q26's confusion matrix in one
    * chance-corrected number, exact signed ppm. The "two labelers" are
    * the heuristic and the gold label; the same operator scores two
    * human annotators or two model versions. */
  val q196CohenKappa = Q(
    "q196_cohen_kappa",
    (s, d) => {
      import s.implicits._
      val stop = Map(
        "en" -> Seq("the", "a", "of", "and", "to"),
        "de" -> Seq("der", "die", "das", "und", "ein"),
        "fr" -> Seq("le", "la", "les", "et", "un"),
        "es" -> Seq("el", "la", "los", "y", "un"))
      def score(lang: String): org.apache.spark.sql.Column = {
        val words = split($"text", " ")
        size(array_intersect(words,
          array(stop(lang).map(lit): _*))).cast("long")
      }
      val scored = Tables.documents(s, d)
        .withColumn("s_en", score("en")).withColumn("s_de", score("de"))
        .withColumn("s_fr", score("fr")).withColumn("s_es", score("es"))
        .withColumn("predicted",
          when($"s_en" >= $"s_de" && $"s_en" >= $"s_fr" &&
            $"s_en" >= $"s_es", "en")
            .when($"s_de" >= $"s_fr" && $"s_de" >= $"s_es", "de")
            .when($"s_fr" >= $"s_es", "fr").otherwise("es"))
      graft.operators.Analytics.cohenKappa(scored, "lang", "predicted")
    },
    Some("""WITH scored AS (
        SELECT lang,
          len(list_intersect(l, ['the','a','of','and','to'])) AS s_en,
          len(list_intersect(l, ['der','die','das','und','ein'])) AS s_de,
          len(list_intersect(l, ['le','la','les','et','un'])) AS s_fr,
          len(list_intersect(l, ['el','la','los','y','un'])) AS s_es
        FROM (SELECT lang, string_split(text, ' ') AS l FROM documents)),
      lab AS (SELECT lang AS a,
          CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
            THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS b
        FROM scored),
      p AS (SELECT a, b, count(*) AS c FROM lab GROUP BY 1, 2),
      rm AS (SELECT a, CAST(sum(c) AS HUGEINT) AS ra FROM p GROUP BY a),
      cm AS (SELECT b, CAST(sum(c) AS HUGEINT) AS cb FROM p GROUP BY b),
      pr AS (SELECT CAST(coalesce(sum(ra * cb), 0) AS HUGEINT) AS prods
        FROM rm JOIN cm ON a = b),
      t AS (SELECT CAST(sum(c) AS HUGEINT) AS n,
          CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS HUGEINT) AS agr
        FROM p)
      SELECT CAST(n AS BIGINT) AS n, CAST(agr AS BIGINT) AS n_agree,
        CAST((1000000 * agr) // n AS BIGINT) AS po_ppm,
        CAST((1000000 * prods) // (n * n) AS BIGINT) AS pe_ppm,
        CASE WHEN n * n - prods <> 0 THEN
          CAST((1000000 * (n * agr - prods)) // (n * n - prods) AS BIGINT)
          END AS kappa_ppm
      FROM t, pr"""),
    doc = "[NS] Cohen's kappa: chance-corrected annotation agreement, exact signed ppm")

  /** [NS] — per-source dataset card (q191): the one-row-per-source
    * summary every curated corpus publishes, composed from the
    * codebase's exact primitives — doc/char counts, exact mean length
    * in ppm-chars, the lower-median length, language diversity as GINI
    * impurity in ppb (1e9 − Σ share² — the log-free diversity measure;
    * entropy's ln() can't hash-match across engines), and the
    * near-dup rate from the corpus-global q109 first-sight gate
    * (docs that failed admission, attributed to their source). One
    * corpus pass for the gate, one per-source window for the median,
    * two aggregates for the rest. */
  val q191DatasetCard = Q(
    "q191_dataset_card",
    (s, d) => Stage("DocQueries.q191DatasetCard") { implicit st =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val admitted = Dedup.nearDupGateBatch(docs, "doc_id", "text",
        tsCol = "doc_id").select($"id".as("doc_id"), lit(1L).as("adm"))
      val wk = Window.partitionBy($"source")
      val base = docs.join(admitted, Seq("doc_id"), "left")
        .withColumn("_n", count(lit(1)).over(wk))
        .withColumn("_rn", row_number().over(
          Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")))
      val card = base.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          max(when($"_rn" === expr("(_n + 1) div 2"), $"n_chars"))
            .as("med_chars"),
          count(when($"adm".isNull, 1)).as("n_neardup"))
        .withColumn("mean_chars_ppm",
          expr("(total_chars * 1000000) div n_docs"))
      val gini = docs.groupBy($"source", $"lang")
        .agg(count(lit(1)).as("nl"))
        .groupBy($"source")
        .agg(sum(expr("nl * nl")).as("_ssq"), sum($"nl").as("_n"))
        .withColumn("lang_gini_ppb", expr(
          "1000000000 - (_ssq * 1000000000) div (_n * _n)"))
        .select($"source", $"lang_gini_ppb")
      card.join(gini, Seq("source"))
        .select($"source", $"n_docs", $"total_chars", $"mean_chars_ppm",
          $"med_chars", $"n_neardup", $"lang_gini_ppb")
        .orderBy($"source")
    },
    Some("""WITH words AS (SELECT DISTINCT doc_id,
          unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents),
      bits AS (SELECT doc_id, j,
          CASE WHEN (strpos('0123456789abcdef', h[(j // 4) + 1]) - 1)
            // CAST(pow(2, 3 - (j % 4)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1
            END AS wgt
        FROM (SELECT doc_id, md5(w) AS h FROM words),
          unnest(range(0, 64)) AS t(j)),
      sums AS (SELECT doc_id, j, sum(wgt) AS s FROM bits
        GROUP BY doc_id, j),
      bk AS (SELECT doc_id, j // 16 AS band,
          string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
            ORDER BY j) AS key
        FROM sums GROUP BY doc_id, j // 16),
      claims AS (SELECT band, key, min(doc_id) AS winner FROM bk
        GROUP BY band, key),
      nd AS (SELECT bk.doc_id FROM bk JOIN claims USING (band, key)
        WHERE claims.winner = bk.doc_id
        GROUP BY bk.doc_id HAVING count(*) = 4),
      r AS (SELECT source, doc_id, n_chars,
          count(*) OVER (PARTITION BY source) AS n,
          row_number() OVER (PARTITION BY source
            ORDER BY n_chars, doc_id) AS rn,
          CASE WHEN nd.doc_id IS NOT NULL THEN 1 END AS adm
        FROM documents LEFT JOIN nd USING (doc_id)),
      card AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS total_chars,
          max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS med_chars,
          CAST(count(CASE WHEN adm IS NULL THEN 1 END) AS BIGINT)
            AS n_neardup
        FROM r GROUP BY source),
      gini AS (SELECT source,
          CAST(1000000000 - (sum(nl * nl) * 1000000000)
            // (sum(nl) * sum(nl)) AS BIGINT) AS lang_gini_ppb
        FROM (SELECT source, lang, CAST(count(*) AS BIGINT) AS nl
          FROM documents GROUP BY source, lang) GROUP BY source)
      SELECT c.source, n_docs, total_chars,
        CAST((total_chars * 1000000) // n_docs AS BIGINT)
          AS mean_chars_ppm,
        med_chars, n_neardup, lang_gini_ppb
      FROM card c JOIN gini USING (source)
      ORDER BY source"""),
    doc = "[NS] per-source dataset card (exact counts, median, Gini diversity, near-dup rate)")

  /** [NS] — crawl-ingest text extraction (q208): the markup-strip +
    * line-level boilerplate gate every pretraining pipeline runs BEFORE
    * the quality/dedup gates ([[graft.operators.Curation.extractText]]).
    * The fixture's documents are plain text, so the query first wraps
    * each in a deterministic crawl-shaped page — head with style/script
    * (incl. a literal `<` inside the script), a nav bar of anchors, an
    * h1 from the text's first 12 chars, the document body, an
    * entity-bearing rating line, a too-short line, and an anchor-heavy
    * footer — IDENTICALLY in both engines, then extracts: nav/footer die
    * by link density, "ok" dies by min-words/min-chars, the h1 survives
    * only when 12 chars hold ≥3 words, body and rating survive with
    * entities decoded. Per-row string kernels; the only exchange is the
    * final presentation sort. */
  /** Deterministic crawl-shaped page synthesis over `documents` — the
    * shared fixture of q208 (extraction) and q215 (the composed ingest
    * funnel): head with style/script (incl. a literal `<` inside the
    * script), a nav bar of anchors, an h1 from the text's first 12
    * chars, the body, an entity-bearing rating line, a too-short line,
    * and an anchor-heavy footer — built IDENTICALLY in both engines. */
  private[graft] def crawlPage(docs: DataFrame): DataFrame =
    docs.withColumn("html", concat(
      lit("<html><head><title>doc</title><style>p{c:1}</style>" +
        "<script>if(a<b){go();}</script></head><body>" +
        "<div id=\"nav\"><a href=\"/\">home</a> | " +
        "<a href=\"/a\">about</a> | <a href=\"/c\">contact</a></div>" +
        "<h1>"),
      upper(substring(col("text"), 1, 12)),
      lit("</h1><p>"), col("text"),
      lit("</p><p>rating &amp; review &lt;"),
      (col("doc_id") % 10).cast("string"),
      lit("&gt; stars of quality today</p><p>ok</p>" +
        "<div class=\"foot\"><a href=\"/t\">terms &amp; conditions</a>" +
        " &#39;2026&#39; all rights</div></body></html>")))

  /** SQL twin of [[crawlPage]]'s html expression. */
  private[queries] val crawlPageHtmlSql: String =
    "'<html><head><title>doc</title><style>p{c:1}</style>" +
      "<script>if(a<b){go();}</script></head><body>" +
      "<div id=\"nav\"><a href=\"/\">home</a> | " +
      "<a href=\"/a\">about</a> | <a href=\"/c\">contact</a></div>" +
      "<h1>' || upper(substr(text, 1, 12)) || '</h1><p>' || text || " +
      "'</p><p>rating &amp; review &lt;' || " +
      "CAST(doc_id % 10 AS VARCHAR) || " +
      "'&gt; stars of quality today</p><p>ok</p>" +
      "<div class=\"foot\"><a href=\"/t\">terms &amp; conditions</a>" +
      " &#39;2026&#39; all rights</div></body></html>'"

  val q208ExtractText = Q(
    "q208_extract_text",
    (s, d) => {
      import s.implicits._
      graft.operators.Curation.extractText(
          crawlPage(Tables.documents(s, d)), "doc_id", "html")
        .orderBy($"doc_id")
    },
    Some(graft.operators.Curation.extractTextSql(
      fromSql = "documents",
      idExpr = "doc_id",
      htmlExpr = crawlPageHtmlSql,
      idAlias = "doc_id") + " ORDER BY doc_id"),
    doc = "[NS] crawl text extraction: markup strip + jusText-style line gate")

  /** [NS] — extraction health by source (q237): the ops dashboard over
    * q208's extraction — per source: page count, mean kept/dropped
    * lines in exact ppm, mean clean-text length, and the share of pages
    * whose extraction came back EMPTY (the "this domain's template
    * changed" alarm — a rising empty share is how extraction rot is
    * actually noticed in production). One extraction pass + one
    * aggregate. */
  val q237ExtractionHealth = Q(
    "q237_extraction_health",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val ex = graft.operators.Curation.extractText(
        DocQueries.crawlPage(docs), "doc_id", "html")
      docs.select($"doc_id", $"source")
        .join(ex, Seq("doc_id"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_pages"),
          expr("(1000000 * sum(kept_lines)) div count(1)")
            .as("mean_kept_ppm"),
          expr("(1000000 * sum(dropped_lines)) div count(1)")
            .as("mean_dropped_ppm"),
          expr("(1000000 * sum(length(clean_text))) div count(1)")
            .as("mean_chars_ppm"),
          expr("(1000000 * sum(case when length(clean_text) = 0 " +
            "then 1 else 0 end)) div count(1)").as("empty_ppm"))
        .orderBy($"source")
    },
    Some {
      val exSql = graft.operators.Curation.extractTextSql("documents",
        "doc_id", crawlPageHtmlSql, "doc_id")
      s"""WITH j AS (SELECT d.source, e.clean_text, e.kept_lines,
            e.dropped_lines
          FROM ($exSql) e JOIN documents d USING (doc_id))
        SELECT source, CAST(count(*) AS BIGINT) AS n_pages,
          CAST((1000000 * sum(kept_lines)) // count(*) AS BIGINT)
            AS mean_kept_ppm,
          CAST((1000000 * sum(dropped_lines)) // count(*) AS BIGINT)
            AS mean_dropped_ppm,
          CAST((1000000 * sum(length(clean_text))) // count(*) AS BIGINT)
            AS mean_chars_ppm,
          CAST((1000000 * count(CASE WHEN length(clean_text) = 0
            THEN 1 END)) // count(*) AS BIGINT) AS empty_ppm
        FROM j GROUP BY source ORDER BY source"""
    },
    doc = "[NS] per-source extraction health (the template-rot alarm dashboard)")

  /** [NS] — dedup ROI report (q240): what exact dedup would BUY, per
    * source — rows and characters removed if every md5-duplicate group
    * kept only its min-doc_id survivor (q22's rule), plus the saved
    * share in exact ppm. The budgeting readout that decides whether
    * the near-dup stages are worth their cost on a given source: a
    * source already near-duplicate-free doesn't need the LSH pass. */
  val q240DedupRoi = Q(
    "q240_dedup_roi",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val keep = docs.groupBy(md5($"text").as("_h"))
        .agg(min($"doc_id").as("keep_id"))
      docs.join(keep, md5($"text") === $"_h", "left")
        .withColumn("dropped", $"doc_id" =!= $"keep_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          sum(when($"dropped", 1L).otherwise(0L)).as("rows_dropped"),
          sum(when($"dropped", $"n_chars").otherwise(0L))
            .as("chars_saved"))
        .withColumn("saved_ppm",
          expr("(1000000 * chars_saved) div total_chars"))
        .orderBy($"source")
    },
    Some("""WITH keep AS (SELECT md5(text) AS h, min(doc_id) AS keep_id
        FROM documents GROUP BY md5(text)),
      j AS (SELECT d.source, d.n_chars,
          d.doc_id <> k.keep_id AS dropped
        FROM documents d JOIN keep k ON md5(d.text) = k.h)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        CAST(count(CASE WHEN dropped THEN 1 END) AS BIGINT)
          AS rows_dropped,
        CAST(sum(CASE WHEN dropped THEN n_chars ELSE 0 END) AS BIGINT)
          AS chars_saved,
        CAST((1000000 * sum(CASE WHEN dropped THEN n_chars ELSE 0 END))
          // sum(n_chars) AS BIGINT) AS saved_ppm
      FROM j GROUP BY source ORDER BY source"""),
    doc = "[NS] dedup ROI per source (rows/chars an exact pass would remove)")

  /** [NS] — audio frame-energy profile over synthetic PCM (q250): 10
    * clips × 8 frames of 256 samples each become exact per-frame
    * mean-square + peak plus the REAL [[graft.operators.Multimodal
    * .rmsGrid]] RMS — the q199 promotion applied to audio: the decoded
    * path is spec-covered on real WAV bytes; the frame arithmetic
    * itself is oracle-checked here via the integer waveform generator.
    * The RMS doubles hash-match because every upstream term is an
    * exact integer-valued double and sqrt/float-cast are correctly
    * rounded IEEE ops. Loudness frames, not sample blobs, are what a
    * multimodal pipeline shuffles — silence trimming, loudness
    * normalization and VAD-ish gating all read THIS table. */
  val q250FrameEnergy = Q(
    "q250_frame_energy",
    (s, d) => {
      import s.implicits._
      implicit val sp: org.apache.spark.sql.SparkSession = s
      val ids = Tables.documents(s, d)
        .select($"doc_id".as("id")).filter($"id" < 10)
      graft.operators.Multimodal.syntheticFrameEnergy(ids, 2048, 8)
        .orderBy($"id", $"frame")
    },
    Some("""WITH ids AS (SELECT doc_id AS id FROM documents
        WHERE doc_id < 10),
      s AS (SELECT id, t,
          ((t * (7 + id % 5) + id * 13) % 65536 - 32768)
            // (1 + (t // 256 + id) % 4) AS v
        FROM ids, range(0, 2048) r(t)),
      f AS (SELECT id, CAST(t // 256 AS INT) AS frame,
          CAST(sum(v * v) AS BIGINT) AS ss,
          CAST(max(abs(v)) AS BIGINT) AS peak
        FROM s GROUP BY id, t // 256)
      SELECT id, frame, CAST(ss // 256 AS BIGINT) AS mean_sq, peak,
        CAST(sqrt(CAST(ss AS DOUBLE) / 256) AS FLOAT) AS rms
      FROM f ORDER BY id, frame"""),
    doc = "[NS] per-frame audio energy (real RMS kernel over the integer waveform)")

  /** [NS] — duplicated-span coverage (q255): [[Dedup.dupSpanCoverage]]
    * with 8-word grams — per doc, the exact fraction of token positions
    * inside spans shared with ANOTHER document (merged intervals, no
    * double counting). The triage readout between doc-dedup and
    * span-cutting: coverage ≈ 1e6 → the doc is a duplicate (drop it);
    * mid-range → boilerplate spans inside original content (cut spans,
    * keep the doc, q99's job); ≈ 0 → clean. */
  val q255DupCoverage = Q(
    "q255_dup_coverage",
    (s, d) => {
      import s.implicits._
      Dedup.dupSpanCoverage(Tables.documents(s, d), "doc_id", "text",
          gram = 8)
        .orderBy($"doc_id")
    },
    Some("""WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w
        FROM documents),
      g AS (SELECT doc_id, i AS s,
          CAST('0x' || substr(md5(array_to_string(w[i:i+7], ' ')),
            1, 15) AS BIGINT) AS h
        FROM wd, unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS t(i)),
      sh AS (SELECT h FROM g GROUP BY h
        HAVING count(DISTINCT doc_id) > 1),
      k AS (SELECT g.doc_id, g.s, g.s + 8 AS e FROM g JOIN sh USING (h)),
      m AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id
          ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
          AND 1 PRECEDING) AS runmax FROM k),
      i2 AS (SELECT doc_id, s, e, CASE WHEN runmax IS NULL OR s > runmax
          THEN 1 ELSE 0 END AS ni FROM m),
      i3 AS (SELECT doc_id, s, e, sum(ni) OVER (PARTITION BY doc_id
          ORDER BY s, e) AS iid FROM i2),
      isl AS (SELECT doc_id, iid, CAST(min(s) AS BIGINT) AS lo,
          CAST(max(e) AS BIGINT) AS hi FROM i3 GROUP BY doc_id, iid),
      cov AS (SELECT doc_id, CAST(sum(hi - lo) AS BIGINT) AS covered,
          CAST(count(*) AS BIGINT) AS n_islands FROM isl
        GROUP BY doc_id)
      SELECT wd.doc_id, CAST(len(wd.w) AS BIGINT) AS len_words,
        coalesce(cov.covered, 0) AS covered,
        coalesce(cov.n_islands, 0) AS n_islands,
        CASE WHEN len(wd.w) > 0 THEN
          (1000000 * least(coalesce(cov.covered, 0),
            CAST(len(wd.w) AS BIGINT))) // len(wd.w)
          ELSE CAST(0 AS BIGINT) END AS coverage_ppm
      FROM wd LEFT JOIN cov USING (doc_id)
      ORDER BY wd.doc_id"""),
    doc = "[NS] duplicated-span coverage per doc (merged 8-word spans, exact ppm)")

  /** [NS] — source ablation report (q272): the data-valuation question
    * "what would the corpus lose if source X were dropped", answered in
    * ONE pass per signal instead of |sources| re-scans — the algebraic
    * leave-one-out trick: additive metrics (doc/pass counts) subtract
    * per-source partials from window totals; the diversity metric
    * counts word-3-grams EXCLUSIVE to each source (a gram lost iff its
    * source set is {X}), which one (gram → n_sources) aggregate
    * answers for every X simultaneously. Per source: quality of the
    * remaining corpus (Gopher pass ppm without X) and the distinct-gram
    * mass only X contributes. At 100 TB: two gram-keyed aggregates and
    * a 10-row window — never one job per ablation candidate. */
  val q272SourceAblation = Q(
    "q272_source_ablation",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val perSrc = graft.operators.Curation
        .gopherRules(docs, "doc_id", "text")
        .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          count(when($"pass_all", 1)).as("n_pass"))
      val grams = docs
        .withColumn("_w", expr(
          "filter(split(text, ' '), x -> length(x) > 0)"))
        .select($"source", explode(expr(
          "CASE WHEN size(_w) >= 3 THEN transform(sequence(3, size(_w)), " +
            "i -> concat(element_at(_w, i - 2), ' ', " +
            "element_at(_w, i - 1), ' ', element_at(_w, i))) " +
            "ELSE slice(_w, 1, 0) END")).as("gram"))
        .distinct()
        .groupBy($"gram")
        .agg(count(lit(1)).as("_ns"), max($"source").as("_only"))
        .groupBy(when($"_ns" === 1, $"_only").otherwise(lit("__shared__"))
          .as("_key"))
        .agg(count(lit(1)).as("_g"))
        // ≤ |sources|+1 rows read by two consumers (per-source filter +
        // the grand total) — checkpoint so the gram pipeline runs once
        .localCheckpoint(true)
      val w = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val excl = grams.filter($"_key" =!= "__shared__")
        .select($"_key".as("source"), $"_g".as("excl_grams"))
      val gtot = grams.agg(sum($"_g").as("_gtot"))
      perSrc
        .withColumn("_ntot", sum($"n_docs").over(w))
        .withColumn("_ptot", sum($"n_pass").over(w))
        .join(excl, Seq("source"), "left")
        .crossJoin(broadcast(gtot))
        .select($"source", $"n_docs", $"n_pass",
          expr("CASE WHEN _ntot > n_docs THEN (1000000 * " +
            "(_ptot - n_pass)) div (_ntot - n_docs) END")
            .as("pass_wo_ppm"),
          coalesce($"excl_grams", lit(0L)).as("excl_grams"),
          expr("CASE WHEN _gtot > 0 THEN (1000000 * " +
            "coalesce(excl_grams, 0)) div _gtot END")
            .as("excl_share_ppm"))
        .orderBy($"source")
    },
    Some("""WITH p AS (SELECT doc_id, source,
          list_filter(string_split(text, ' '), x -> len(x) > 0) AS l,
          text FROM documents),
      m AS (SELECT doc_id, source,
          CAST(len(l) AS BIGINT) AS n_words,
          CAST(coalesce(list_sum(list_transform(l, x -> len(x))), 0)
            AS BIGINT) AS sum_len,
          CAST(len(text) - len(replace(text, '#', ''))
            + (len(text) - len(replace(text, '...', ''))) // 3
            AS BIGINT) AS sym_cnt,
          CAST(len(list_filter(l, x -> regexp_matches(x, '[a-zA-Z]')))
            AS BIGINT) AS alpha_words,
          CAST(len(list_intersect(list_distinct(l),
            ['the','be','to','of','and','that','have','with','a','in']))
            AS BIGINT) AS stop_n
        FROM p),
      f AS (SELECT source,
          (n_words >= 50 AND n_words <= 100000
            AND (CASE WHEN n_words > 0 THEN (100 * sum_len) // n_words
              ELSE 0 END BETWEEN 300 AND 1000)
            AND 1000 * sym_cnt < 100 * n_words
            AND 5 * alpha_words >= 4 * n_words
            AND stop_n >= 2) AS pass_all
        FROM m),
      ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(CASE WHEN pass_all THEN 1 END) AS BIGINT) AS n_pass
        FROM f GROUP BY source),
      g0 AS (SELECT DISTINCT source, unnest(list_transform(
            generate_series(3, len(l)),
            i -> l[i - 2] || ' ' || l[i - 1] || ' ' || l[i])) AS gram
        FROM p WHERE len(l) >= 3),
      gs AS (SELECT gram, count(*) AS ns, max(source) AS osrc
        FROM g0 GROUP BY gram),
      gk AS (SELECT CASE WHEN ns = 1 THEN osrc ELSE '__shared__' END
          AS gkey, CAST(count(*) AS BIGINT) AS g
        FROM gs GROUP BY 1),
      tot AS (SELECT sum(g) AS gtot FROM gk),
      agg AS (SELECT sum(n_docs) AS ntot, sum(n_pass) AS ptot FROM ps)
      SELECT ps.source, ps.n_docs, ps.n_pass,
        CASE WHEN agg.ntot > ps.n_docs THEN
          CAST((1000000 * (agg.ptot - ps.n_pass))
            // (agg.ntot - ps.n_docs) AS BIGINT) END AS pass_wo_ppm,
        CAST(coalesce(gk.g, 0) AS BIGINT) AS excl_grams,
        CASE WHEN tot.gtot > 0 THEN
          CAST((1000000 * coalesce(gk.g, 0)) // tot.gtot AS BIGINT) END
          AS excl_share_ppm
      FROM ps CROSS JOIN agg CROSS JOIN tot
        LEFT JOIN gk ON gk.gkey = ps.source
      ORDER BY ps.source"""),
    doc = "[NS] source ablation: leave-one-out quality + exclusive n-gram mass, one pass")

  /** [NS] — MinHash estimator error audit (q279): for every q24 LSH
    * candidate pair, the SKETCH's similarity estimate (signature
    * agreement share, 1e6·agree div 8) side by side with the exact
    * n-gram Jaccard it estimates — the per-pair calibration readout
    * behind the band-threshold choice (q164 audits which pairs the
    * bands FIND; this audits what the signature CLAIMS about them).
    * Work is candidate-bounded: the exact Jaccard runs only on the
    * ~band-collision pairs, never the quadratic all-pairs space. */
  val q279MinhashError = Q(
    "q279_minhash_error",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshCandidates(docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4)
      val sig = docs.select($"doc_id",
        graft.functions.MinHashExpression
          .minhashSignature($"text", 3, 8).as("_sig"))
        .filter($"_sig".isNotNull)
      val sh = Dedup.shingles(docs, "doc_id", "text", 3)
        .localCheckpoint(true) // read per pair side + the size frame
      val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val shared = pairs
        .join(sh.select($"doc_id".as("doc_a"), $"gram"), Seq("doc_a"))
        .join(sh.select($"doc_id".as("doc_b"), $"gram"),
          Seq("doc_b", "gram"))
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared"))
      val agree = pairs
        .join(sig.select($"doc_id".as("doc_a"), $"_sig".as("_sa")),
          Seq("doc_a"))
        .join(sig.select($"doc_id".as("doc_b"), $"_sig".as("_sb")),
          Seq("doc_b"))
        .withColumn("agree", expr(
          "CAST(size(filter(sequence(1, 8), " +
            "i -> element_at(_sa, i) = element_at(_sb, i))) AS BIGINT)"))
        .select($"doc_a", $"doc_b", $"agree")
      agree
        .join(shared, Seq("doc_a", "doc_b"), "left")
        .join(sz.select($"doc_id".as("doc_a"), $"n".as("na")),
          Seq("doc_a"))
        .join(sz.select($"doc_id".as("doc_b"), $"n".as("nb")),
          Seq("doc_b"))
        .withColumn("shared", coalesce($"shared", lit(0L)))
        .withColumn("est_ppm", expr("(1000000 * agree) div 8"))
        .withColumn("jac_ppm", expr(
          "(1000000 * shared) div (na + nb - shared)"))
        .withColumn("err_ppm", $"est_ppm" - $"jac_ppm")
        .select($"doc_a", $"doc_b", $"agree", $"est_ppm", $"shared",
          $"jac_ppm", $"err_ppm")
        .orderBy($"doc_a", $"doc_b")
    },
    Some(s"""WITH tg AS ($shinglesSql),
      sig AS (SELECT doc_id,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM tg GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band, s0 AS v0, s1 AS v1 FROM sig UNION ALL
        SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
        SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
        SELECT doc_id, 3, s6, s7 FROM sig),
      prs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
        ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
          AND x.doc_id < y.doc_id),
      sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tg
        GROUP BY doc_id),
      shd AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS shared
        FROM prs p JOIN tg a ON a.doc_id = p.doc_a
          JOIN tg b ON b.doc_id = p.doc_b AND b.gram = a.gram
        GROUP BY 1, 2),
      ag AS (SELECT p.doc_a, p.doc_b, CAST(
          (x.s0 = y.s0)::INT + (x.s1 = y.s1)::INT + (x.s2 = y.s2)::INT
          + (x.s3 = y.s3)::INT + (x.s4 = y.s4)::INT + (x.s5 = y.s5)::INT
          + (x.s6 = y.s6)::INT + (x.s7 = y.s7)::INT AS BIGINT) AS agree
        FROM prs p JOIN sig x ON x.doc_id = p.doc_a
          JOIN sig y ON y.doc_id = p.doc_b)
      SELECT a.doc_a, a.doc_b, a.agree,
        (1000000 * a.agree) // 8 AS est_ppm,
        coalesce(s.shared, 0) AS shared,
        (1000000 * coalesce(s.shared, 0))
          // (za.n + zb.n - coalesce(s.shared, 0)) AS jac_ppm,
        (1000000 * a.agree) // 8 - (1000000 * coalesce(s.shared, 0))
          // (za.n + zb.n - coalesce(s.shared, 0)) AS err_ppm
      FROM ag a LEFT JOIN shd s ON s.doc_a = a.doc_a AND s.doc_b = a.doc_b
        JOIN sz za ON za.doc_id = a.doc_a
        JOIN sz zb ON zb.doc_id = a.doc_b
      ORDER BY a.doc_a, a.doc_b"""),
    doc = "[NS] MinHash signature estimate vs exact Jaccard per LSH candidate pair")

  /** [NS] — LSH (bands × rows) parameter advisor (q287):
    * [[graft.operators.Dedup.lshParamAdvisor]] pricing every split of
    * 8 MinHash functions (8×1, 4×2, 2×4, 1×8) on the MEASURED
    * candidate-pair Jaccard distribution (the q279 machinery): per
    * config, mean capture probability of true (≥0.5) pairs vs
    * below-threshold pairs, margin, and the recommended config — the
    * empirical answer to "should q24 run 4 bands of 2 or 2 of 4".
    * S-curve powers are truncating ppm folds, identical in both
    * engines (Spark `aggregate` HOF ≡ DuckDB `list_reduce`). Work is
    * candidate-bounded like q279; the advisor itself is |pairs| × 4
    * rows into a 4-group aggregate. */
  val q287LshAdvisor = Q(
    "q287_lsh_advisor",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshCandidates(docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4)
      val sh = Dedup.shingles(docs, "doc_id", "text", 3)
        .localCheckpoint(true)
      val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val shared = pairs
        .join(sh.select($"doc_id".as("doc_a"), $"gram"), Seq("doc_a"))
        .join(sh.select($"doc_id".as("doc_b"), $"gram"),
          Seq("doc_b", "gram"))
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared"))
      val jacs = pairs
        .join(shared, Seq("doc_a", "doc_b"), "left")
        .join(sz.select($"doc_id".as("doc_a"), $"n".as("na")),
          Seq("doc_a"))
        .join(sz.select($"doc_id".as("doc_b"), $"n".as("nb")),
          Seq("doc_b"))
        .withColumn("shared", coalesce($"shared", lit(0L)))
        .withColumn("jac_ppm", expr(
          "(1000000 * shared) div (na + nb - shared)"))
        .select($"jac_ppm")
      Dedup.lshParamAdvisor(jacs, totalHashes = 8,
        thresholdPpm = 500000L)
        .orderBy($"bands")
    },
    Some(s"""WITH tg AS ($shinglesSql),
      sig AS (SELECT doc_id,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM tg GROUP BY doc_id),
      bnd AS (
        SELECT doc_id, 0 AS band, s0 AS v0, s1 AS v1 FROM sig UNION ALL
        SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
        SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
        SELECT doc_id, 3, s6, s7 FROM sig),
      prs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bnd x JOIN bnd y
        ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
          AND x.doc_id < y.doc_id),
      sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tg
        GROUP BY doc_id),
      shd AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS shared
        FROM prs p JOIN tg a ON a.doc_id = p.doc_a
          JOIN tg b ON b.doc_id = p.doc_b AND b.gram = a.gram
        GROUP BY 1, 2),
      jac AS (SELECT
          CAST((1000000 * coalesce(s.shared, 0)) //
            (za.n + zb.n - coalesce(s.shared, 0)) AS BIGINT) AS jac_ppm
        FROM prs p
          LEFT JOIN shd s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
          JOIN sz za ON za.doc_id = p.doc_a
          JOIN sz zb ON zb.doc_id = p.doc_b),
      cfg AS (SELECT * FROM (VALUES (8, 1), (4, 2), (2, 4), (1, 8))
        AS t(bands, rows_per_band)),
      sr AS (SELECT bands, rows_per_band, jac_ppm,
          list_reduce(list_prepend(CAST(1000000 AS BIGINT),
            list_transform(generate_series(1, rows_per_band),
              i -> jac_ppm)),
            (a, x) -> (a * x) // 1000000) AS s_r
        FROM jac CROSS JOIN cfg),
      pc AS (SELECT bands, rows_per_band, jac_ppm,
          1000000 - list_reduce(list_prepend(CAST(1000000 AS BIGINT),
            list_transform(generate_series(1, bands),
              i -> 1000000 - s_r)),
            (a, x) -> (a * x) // 1000000) AS p_ppm
        FROM sr),
      ag AS (SELECT bands, rows_per_band,
          CAST(sum(CASE WHEN jac_ppm >= 500000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true,
          CAST(sum(CASE WHEN jac_ppm < 500000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false,
          sum(CASE WHEN jac_ppm >= 500000 THEN p_ppm ELSE 0 END) AS pt,
          sum(CASE WHEN jac_ppm < 500000 THEN p_ppm ELSE 0 END) AS pf
        FROM pc GROUP BY 1, 2),
      fin AS (SELECT bands, rows_per_band, n_true, n_false,
          CAST(CASE WHEN n_true > 0 THEN pt // n_true ELSE 0 END
            AS BIGINT) AS recall_ppm,
          CAST(CASE WHEN n_false > 0 THEN pf // n_false ELSE 0 END
            AS BIGINT) AS leak_ppm
        FROM ag)
      SELECT bands, rows_per_band, n_true, n_false, recall_ppm,
        leak_ppm, CAST(recall_ppm - leak_ppm AS BIGINT) AS margin_ppm,
        (row_number() OVER (ORDER BY recall_ppm - leak_ppm DESC, bands)
          = 1) AS recommended
      FROM fin ORDER BY bands"""),
    doc = "[NS] LSH band/row advisor: measured S-curve capture per config")

  /** Shared q289/q290 oracle prefix: the q24 candidate pairs (prs) —
    * identical CTE text so the two matrix oracles stay in lockstep
    * with the q24 gate. */
  private val candidatePairsSql: String =
    s"""tg AS ($shinglesSql),
      sig AS (SELECT doc_id,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM tg GROUP BY doc_id),
      bnd AS (
        SELECT doc_id, 0 AS band, s0 AS v0, s1 AS v1 FROM sig UNION ALL
        SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
        SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
        SELECT doc_id, 3, s6, s7 FROM sig),
      prs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bnd x JOIN bnd y
        ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
          AND x.doc_id < y.doc_id)"""

  /** The shared q289/q290 oracle tail over a `lab(group_a, group_b)`
    * CTE: cell counts, cross flag, exact shares. */
  private def groupMatrixTailSql: String =
    """ag AS (SELECT group_a, group_b,
          CAST(count(*) AS BIGINT) AS n_pairs FROM lab GROUP BY 1, 2),
      tt AS (SELECT *, sum(n_pairs) OVER () AS tot FROM ag)
      SELECT group_a, group_b, n_pairs,
        group_a <> group_b AS cross_group,
        CAST((1000000 * n_pairs) // tot AS BIGINT) AS share_ppm
      FROM tt ORDER BY group_a, group_b"""

  /** [NS] — split-leakage audit (q289):
    * [[graft.operators.Dedup.pairGroupMatrix]] of the q24 LSH
    * candidate pairs against q56's deterministic hash split. An
    * id-keyed split CANNOT keep near-duplicates on one side — this
    * counts exactly how many candidate pairs the dedup gate would link
    * ACROSS train/val/test (Lee et al. 2022's benchmark-contamination
    * finding, measured on the pipeline's own split and gate). The
    * pairs here are the gate's raw candidates — the linkage the
    * pipeline acts on; q58's decontamination is the remedial stage
    * this audit budgets. */
  val q289SplitLeakage = Q(
    "q289_split_leakage",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshCandidates(docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4)
      val meta = graft.operators.Curation.assignSplit(docs, "doc_id")
        .select($"doc_id", $"split")
      Dedup.pairGroupMatrix(pairs, meta, "doc_id", "split")
        .orderBy($"group_a", $"group_b")
    },
    Some(s"""WITH $candidatePairsSql,
      sp AS (SELECT doc_id, CASE
          WHEN CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT)
            % 100 < 80 THEN 'train'
          WHEN CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT)
            % 100 < 90 THEN 'val'
          ELSE 'test' END AS split
        FROM documents),
      lab AS (SELECT least(a.split, b.split) AS group_a,
          greatest(a.split, b.split) AS group_b
        FROM prs p JOIN sp a ON a.doc_id = p.doc_a
          JOIN sp b ON b.doc_id = p.doc_b),
      $groupMatrixTailSql"""),
    doc = "[NS] near-dup pairs crossing the train/val/test hash split")

  /** [NS] — cross-source duplication matrix (q290): the same
    * [[graft.operators.Dedup.pairGroupMatrix]] keyed by `source` —
    * which sources copy from each other. Off-diagonal mass means a
    * per-source dedup pass would MISS those pairs entirely (they only
    * appear when sources are deduped jointly), and it names the source
    * pairs worth routing through the cross-corpus gate — the pairwise
    * refinement of q240's per-source dedup ROI. */
  val q290SourceDupMatrix = Q(
    "q290_source_dup_matrix",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshCandidates(docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4)
      Dedup.pairGroupMatrix(pairs,
        docs.select($"doc_id", $"source"), "doc_id", "source")
        .orderBy($"group_a", $"group_b")
    },
    Some(s"""WITH $candidatePairsSql,
      lab AS (SELECT least(a.source, b.source) AS group_a,
          greatest(a.source, b.source) AS group_b
        FROM prs p JOIN documents a ON a.doc_id = p.doc_a
          JOIN documents b ON b.doc_id = p.doc_b),
      $groupMatrixTailSql"""),
    doc = "[NS] which sources near-duplicate each other: pair matrix by source")

  /** [NS] — ranking-stability audit via rank-biased overlap (q296):
    * Webber et al. 2010's top-weighted list-similarity between the
    * top-10 term rankings of two corpus snapshots (even vs odd
    * doc_ids). q228 measures SHARE drift per token; RBO measures
    * whether the head of the frequency ranking — the part retrieval
    * and vocabulary decisions key on — is stable, discounting
    * disagreement deeper in the list. The p=0.9 depth weights
    * w_d ∝ p^(d−1), normalized to sum to 10⁶ exactly (last weight
    * absorbs the 26 ppm rounding residue — the largest-remainder
    * convention), are HARDCODED identically in both engines (the
    * Benford rule: transcendentals are pinned, never computed).
    * Per depth: both lists' overlap, the weighted agreement term
    * (w·ov) div d, and the cumulative RBO@d curve — the q273 running
    * readout, applied to ranking drift. One (half, term) count
    * aggregate feeds everything; after the top-10 windows the frame
    * is 10 rows. */
  val q296RboStability = Q(
    "q296_rbo_stability",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wts = graft.operators.Analytics.rboWeightsP90K10
      val tf = Tables.documents(s, d)
        .select(($"doc_id" % 2 === 0).as("half_a"),
          explode(expr("filter(split(text, ' '), x -> length(x) > 0)"))
            .as("term"))
        .groupBy($"half_a", $"term").agg(count(lit(1)).as("cnt"))
      val ranked = tf
        .withColumn("rk", row_number().over(Window.partitionBy($"half_a")
          .orderBy($"cnt".desc, $"term".asc)))
        .filter($"rk" <= 10)
      val a = ranked.filter($"half_a").select($"term", $"rk".as("ra"))
      val b = ranked.filter(!$"half_a").select($"term", $"rk".as("rb"))
      graft.operators.Analytics.rboCurve(a, b, wts)
        .orderBy($"depth")
    },
    Some("""WITH tf AS (SELECT (doc_id % 2 = 0) AS half_a, term,
          CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
            x -> len(x) > 0)) AS term FROM documents) t
        GROUP BY 1, 2),
      rk AS (SELECT half_a, term, row_number() OVER (PARTITION BY half_a
          ORDER BY cnt DESC, term) AS rk FROM tf),
      a AS (SELECT term, rk AS ra FROM rk WHERE half_a AND rk <= 10),
      b AS (SELECT term, rk AS rb FROM rk WHERE NOT half_a AND rk <= 10),
      pairs AS (SELECT a.term, ra, rb FROM a JOIN b USING (term)),
      wt AS (SELECT * FROM (VALUES (1, 153538), (2, 138184),
        (3, 124366), (4, 111929), (5, 100736), (6, 90663), (7, 81596),
        (8, 73437), (9, 66093), (10, 59458)) AS t(depth, w_ppm)),
      ov AS (SELECT depth, CAST(w_ppm AS BIGINT) AS w_ppm,
          CAST(count(p.term) AS BIGINT) AS overlap
        FROM wt LEFT JOIN pairs p
          ON p.ra <= wt.depth AND p.rb <= wt.depth
        GROUP BY 1, 2),
      f AS (SELECT depth, w_ppm, overlap,
          CAST((w_ppm * overlap) // depth AS BIGINT) AS term_ppm
        FROM ov)
      SELECT depth, w_ppm, overlap, term_ppm,
        CAST(sum(term_ppm) OVER (ORDER BY depth) AS BIGINT)
          AS rbo_cum_ppm
      FROM f ORDER BY depth"""),
    doc = "[NS] rank-biased overlap of top-term rankings between corpus halves")

  /** [NS] — rank association (q325):
    * [[graft.operators.Analytics.goodmanKruskalGamma]] between the two
    * corpus halves' top-20 term rankings (q296's snapshots, deeper
    * list) over the COMMON terms — γ = (C−D)/(C+D) exact in ppm, the
    * classical direction-reading complement of q296's head-weighted
    * RBO. Pairs are (common terms)² ≤ 400 by construction. */
  val q325RankGamma = Q(
    "q325_rank_gamma",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.documents(s, d)
        .select(($"doc_id" % 2 === 0).as("half_a"),
          explode(expr("filter(split(text, ' '), x -> length(x) > 0)"))
            .as("term"))
        .groupBy($"half_a", $"term").agg(count(lit(1)).as("cnt"))
      val ranked = tf
        .withColumn("rk", row_number().over(Window.partitionBy($"half_a")
          .orderBy($"cnt".desc, $"term".asc)).cast("long"))
        .filter($"rk" <= 20)
      val m = ranked.filter($"half_a").select($"term", $"rk".as("ra"))
        .join(ranked.filter(!$"half_a").select($"term", $"rk".as("rb")),
          Seq("term"))
      graft.operators.Analytics.goodmanKruskalGamma(m, "term", "ra",
        "rb")
    },
    Some("""WITH tf AS (SELECT (doc_id % 2 = 0) AS half_a, term,
          CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
            x -> len(x) > 0)) AS term FROM documents) t
        GROUP BY 1, 2),
      rk AS (SELECT half_a, term, row_number() OVER (PARTITION BY half_a
          ORDER BY cnt DESC, term) AS rk FROM tf),
      m AS (SELECT a.term, a.rk AS ra, b.rk AS rb
        FROM (SELECT term, rk FROM rk WHERE half_a AND rk <= 20) a
        JOIN (SELECT term, rk FROM rk WHERE NOT half_a AND rk <= 20) b
        USING (term)),
      nk AS (SELECT count(*)::BIGINT AS n_keys FROM m),
      p AS (SELECT (x.ra - y.ra) AS da, (x.rb - y.rb) AS db
        FROM m x JOIN m y ON x.term < y.term),
      agg AS (SELECT count(*)::BIGINT AS n_pairs,
          sum(CASE WHEN da * db > 0 THEN 1 ELSE 0 END)::BIGINT
            AS concordant,
          sum(CASE WHEN da * db < 0 THEN 1 ELSE 0 END)::BIGINT
            AS discordant,
          sum(CASE WHEN da * db = 0 THEN 1 ELSE 0 END)::BIGINT AS tied
        FROM p)
      SELECT n_keys, n_pairs, concordant, discordant, tied,
        CASE WHEN concordant + discordant > 0 THEN
          CAST((concordant::HUGEINT - discordant) * 1000000
            // (concordant + discordant) AS BIGINT) END AS gamma_ppm
      FROM agg, nk"""),
    doc = "[NS] Goodman-Kruskal gamma between top-term rankings, exact ppm")

  /** [NS] — sorted-neighborhood candidates (q326):
    * [[graft.operators.Dedup.sortedNeighborhoodPairs]] over documents
    * sorted by (lang, n_chars, doc_id) with window 5 — per-pair rank
    * distance, summarized per language pair volume plus the same-lang
    * share: the skew-proof blocking pass whose pair volume is exactly
    * n·(w−1) (compare q140's quadratic classic blocks and q144's LSH
    * bands — the taxonomy's third member, measured under the same
    * fixture). */
  val q326SortedNeighborhood = Q(
    "q326_sorted_neighborhood",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = graft.operators.Dedup.sortedNeighborhoodPairs(
        docs, "doc_id", Seq($"lang", $"n_chars", $"doc_id"), w = 5)
      val langs = docs.select($"doc_id".as("a_id"), $"lang".as("la"))
      val langsB = docs.select($"doc_id".as("b_id"), $"lang".as("lb"))
      pairs.join(langs, Seq("a_id")).join(langsB, Seq("b_id"))
        .groupBy($"la", $"lb")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"rank_dist").as("sum_dist"))
        .orderBy($"la", $"lb")
    },
    Some("""WITH r AS (SELECT doc_id, lang,
          row_number() OVER (ORDER BY lang, n_chars, doc_id) - 1 AS rk
        FROM documents),
      p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          (b.rk - a.rk)::BIGINT AS rank_dist, a.lang AS la,
          b.lang AS lb
        FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 4)
      SELECT la, lb, count(*)::BIGINT AS n_pairs,
        sum(rank_dist)::BIGINT AS sum_dist
      FROM p GROUP BY la, lb ORDER BY la, lb"""),
    doc = "[NS] sorted-neighborhood blocking: skew-proof n*(w-1) candidate volume per language pair")

  /** [NS] — dedup cluster-size profile (q297): the size histogram of
    * q72's transitive near-dup clusters over the WHOLE corpus
    * (unpaired docs count as singletons), with the corpus-level
    * readouts an ops dashboard needs before running keep-best: what
    * share of documents sit in multi-doc clusters (the dedup upside),
    * and how big the giant component is (the mega-cluster alarm — a
    * runaway giant means the banding threshold collapsed and keep-best
    * would delete half the corpus). Per distinct size: cluster count,
    * doc count, the global multi-doc ppm and giant size, and the
    * is_giant flag. Everything after the CC fixpoint is
    * |distinct sizes| rows.
    *
    * Round 11: the profile's edges come from the STAR-contracted band
    * join ([[graft.operators.Dedup.minhashLshStarEdges]], production
    * threshold 64) — components are provably identical (q371), so the
    * oracle below stays the all-pairs closure, but the ALARM now
    * survives the very condition it exists to detect: on the planted
    * 20%-hot-family fixture the all-pairs form read 283 s at 10× and
    * blew past a 15-minute cap at 30×, while the star form reads in
    * seconds (measured, ARCHITECTURE.md round-11 skew campaign). An
    * alarm that explodes on the mega-cluster it is alarming about is
    * not an alarm. */
  val q297ClusterProfile = Q(
    "q297_cluster_profile",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshStarEdges(docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, hotThreshold = 64)
      val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      val labs = docs.select($"doc_id".as("node"))
        .join(cc, Seq("node"), "left")
        .withColumn("rep", coalesce($"rep", $"node"))
      val sizes = labs.groupBy($"rep").agg(count(lit(1)).as("csize"))
      val tot = Window.partitionBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      sizes.groupBy($"csize")
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", $"csize" * $"n_clusters")
        .withColumn("_td", sum($"n_docs").over(tot))
        .withColumn("_md", sum(when($"csize" > 1, $"n_docs")
          .otherwise(0L)).over(tot))
        .withColumn("multi_doc_ppm", expr("(1000000 * _md) div _td"))
        .withColumn("giant_size", max($"csize").over(tot))
        .withColumn("is_giant", $"csize" === $"giant_size")
        .select($"csize".as("cluster_size"), $"n_clusters", $"n_docs",
          $"multi_doc_ppm", $"giant_size", $"is_giant")
        .orderBy($"cluster_size")
    },
    Some(s"""WITH RECURSIVE tg AS ($shinglesSql),
      sig AS (SELECT doc_id,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM tg GROUP BY doc_id),
      bnd AS (
        SELECT doc_id, 0 AS band, s0 AS v0, s1 AS v1 FROM sig UNION ALL
        SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
        SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
        SELECT doc_id, 3, s6, s7 FROM sig),
      prs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bnd x JOIN bnd y
        ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
          AND x.doc_id < y.doc_id),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
        UNION SELECT doc_b, doc_a FROM prs),
      reach(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
      lab0 AS (SELECT src AS node, min(dst) AS rep
        FROM reach GROUP BY src),
      labs AS (SELECT d.doc_id AS node,
          coalesce(l.rep, d.doc_id) AS rep
        FROM documents d LEFT JOIN lab0 l ON l.node = d.doc_id),
      sz AS (SELECT rep, CAST(count(*) AS BIGINT) AS csize
        FROM labs GROUP BY rep),
      h AS (SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters
        FROM sz GROUP BY csize),
      g AS (SELECT *, csize * n_clusters AS n_docs FROM h),
      t AS (SELECT *, sum(n_docs) OVER () AS td,
          sum(CASE WHEN csize > 1 THEN n_docs ELSE 0 END) OVER () AS md,
          max(csize) OVER () AS giant FROM g)
      SELECT csize AS cluster_size, n_clusters,
        CAST(n_docs AS BIGINT) AS n_docs,
        CAST((1000000 * md) // td AS BIGINT) AS multi_doc_ppm,
        CAST(giant AS BIGINT) AS giant_size,
        csize = giant AS is_giant
      FROM t ORDER BY cluster_size"""),
    doc = "[NS] near-dup cluster size histogram + giant-component alarm")

  /** [NS] — hashing-trick collision audit (q298): the capacity check
    * for q280's 64-bucket importance model. The hashing trick maps the
    * whole vocabulary into B buckets; signal washes out when a bucket
    * mixes one dominant token with many rare ones — its lambda becomes
    * the dominant token's politics applied to every colliding term.
    * Per bucket: distinct types, total occurrences, the dominant token
    * and its exact share, the global mean types per bucket, and a
    * crowded flag (> 2× mean types — the buckets to split first when
    * raising B). One explode + one (bucket, token) aggregate; the
    * profile is B rows. */
  val q298HashCollisions = Q(
    "q298_hash_collisions",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.documents(s, d)
        .select(explode(expr(
          "filter(split(text, ' '), x -> length(x) > 0)")).as("tok"))
        .withColumn("bucket",
          graft.operators.Curation.hashBucket($"tok", 64))
        .groupBy($"bucket", $"tok").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy($"bucket")
        .orderBy($"cnt".desc, $"tok".asc)
      val tot = Window.partitionBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      tf.withColumn("rn", row_number().over(w))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_types"), sum($"cnt").as("n_occ"),
          max(when($"rn" === 1, $"tok")).as("top_tok"),
          max(when($"rn" === 1, $"cnt")).as("_topc"))
        .withColumn("top_share_ppm", expr("(1000000 * _topc) div n_occ"))
        .withColumn("_tt", sum($"n_types").over(tot))
        .withColumn("_nb", count(lit(1)).over(tot))
        .withColumn("mean_types", expr("_tt div _nb"))
        .withColumn("crowded", expr("n_types > 2 * mean_types"))
        .select($"bucket", $"n_types", $"n_occ", $"top_tok",
          $"top_share_ppm", $"mean_types", $"crowded")
        .orderBy($"bucket")
    },
    Some("""WITH tf AS (SELECT
          CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 64 AS bucket,
          tok, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_filter(string_split(text, ' '),
            x -> len(x) > 0)) AS tok FROM documents) t
        GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY bucket
          ORDER BY cnt DESC, tok) AS rn FROM tf),
      a AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_types,
          CAST(sum(cnt) AS BIGINT) AS n_occ,
          max(CASE WHEN rn = 1 THEN tok END) AS top_tok,
          max(CASE WHEN rn = 1 THEN cnt END) AS topc
        FROM r GROUP BY bucket),
      t AS (SELECT *, sum(n_types) OVER () AS tt,
          count(*) OVER () AS nb FROM a)
      SELECT bucket, n_types, n_occ, top_tok,
        CAST((1000000 * topc) // n_occ AS BIGINT) AS top_share_ppm,
        CAST(tt // nb AS BIGINT) AS mean_types,
        n_types > 2 * (tt // nb) AS crowded
      FROM t ORDER BY bucket"""),
    doc = "[NS] hashing-trick bucket collision profile for the importance model")

  /** Shared SQL twin of the hashed-importance scorer (q280 in-query and
    * q284 stored-serve must agree: same model, same scores). */
  private val importanceSql: String =
    """WITH tk AS (SELECT doc_id, lang, unnest(list_filter(
          string_split(text, ' '), x -> len(x) > 0)) AS tok
        FROM documents),
      tb AS (SELECT doc_id, lang,
          CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 64 AS bucket,
          CAST(count(*) AS BIGINT) AS c
        FROM tk GROUP BY 1, 2, 3),
      raw AS (SELECT bucket, sum(c) AS cr FROM tb GROUP BY bucket),
      tgt AS (SELECT bucket, sum(c) AS ct FROM tb WHERE lang = 'en'
        GROUP BY bucket),
      tot AS (SELECT r.bucket, r.cr, coalesce(t.ct, 0) AS ct
        FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket),
      n AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM tot),
      lam AS (SELECT bucket, CAST((1000000::HUGEINT * (ct + 1) * (nr + 64))
          // ((cr + 1)::HUGEINT * (nt + 64)) AS BIGINT) AS lam_ppm
        FROM tot, n),
      sc AS (SELECT tb.doc_id, max(tb.lang) AS lang, sum(tb.c) AS n_tok,
          CAST(sum(tb.c::HUGEINT * l.lam_ppm) // sum(tb.c) AS BIGINT)
            AS score_ppm
        FROM tb JOIN lam l ON l.bucket = tb.bucket GROUP BY tb.doc_id)
      SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok, score_ppm
      FROM sc ORDER BY score_ppm DESC, doc_id"""

  /** [NS] — hashed n-gram importance scoring (q280): the DSIR shape
    * (Xie et al. 2023) as exact integers — every doc scored by its mean
    * per-token bucket importance toward the lang='en' target slice
    * (>10⁶ target-like, <10⁶ raw-like; see [[graft.operators.Importance]]
    * for the cleared-denominator estimator). One corpus explode+aggregate
    * builds per-doc bucket counts; the MODEL is 64 rows (the hashing
    * trick caps it at B buckets regardless of corpus size) and scoring
    * is a broadcast join — the data-selection gate that precedes
    * quality filtering in a targeted pretraining mix. */
  val q280Importance = Q(
    "q280_importance",
    (s, d) => {
      import s.implicits._
      val tb = graft.operators.Importance.docBuckets(
        Tables.documents(s, d), "doc_id", "text", 64,
        carryCols = Seq("lang"))
        .localCheckpoint(true) // read by raw, target and scoring arms
      val lam = graft.operators.Importance
        .lambdaTable(tb, $"lang" === "en", 64)
      graft.operators.Importance.score(tb, lam, "doc_id",
          carryCols = Seq("lang"))
        .select($"doc_id", $"lang", $"n_tok", $"score_ppm")
        .orderBy($"score_ppm".desc, $"doc_id")
    },
    Some(importanceSql),
    doc = "[NS] DSIR-shaped hashed importance scoring toward lang=en, exact ppm")

  /** [NS] — stored importance-model serving (q284): [[q280Importance]]'s
    * lifecycle half. The 64-row lambda table is trained ONCE
    * ([[graft.operators.Importance.buildModelIfAbsent]], fingerprinted)
    * and every later batch is scored from the STORED model — at 100 TB
    * the training corpus is read once ever, and scoring any new shard
    * costs one explode + one broadcast join against B rows. Same oracle
    * as q280 verbatim: stored serve must reproduce in-query training. */
  val q284ImportanceServe = Q(
    "q284_importance_serve",
    (s, d) => {
      import s.implicits._
      val dir = graft.operators.Importance.defaultDir(s"imp64_$d")
      val tb = graft.operators.Importance.docBuckets(
        Tables.documents(s, d), "doc_id", "text", 64,
        carryCols = Seq("lang"))
        .localCheckpoint(true)
      graft.operators.Importance.buildModelIfAbsent(
        tb, $"lang" === "en", 64, dir, tag = s"imp64_$d")
      graft.operators.Importance.score(tb,
          graft.operators.Importance.storedLambda(s, dir), "doc_id",
          carryCols = Seq("lang"))
        .select($"doc_id", $"lang", $"n_tok", $"score_ppm")
        .orderBy($"score_ppm".desc, $"doc_id")
    },
    Some(importanceSql),
    doc = "[NS] importance scoring served from the stored 64-row model")

  /** [NS] — importance-model forget certificate (q352):
    * [[graft.operators.Importance.removeBatch]] — the v2 layout stores
    * the per-bucket COUNT table (lam_ppm is a ratio and cannot be
    * decremented; counts are sums and can — the q347 move applied to
    * the DSIR model), so forgetting documents subtracts their bucket
    * counts exactly. Build on the FULL corpus, FORGET the doc_id ≡ 3
    * (mod 7) slice, then score every doc from the stored model. The
    * oracle trains on the REMAINING docs only (scoring side unchanged):
    * green proves decremental forget ≡ remaining-only rebuild at the
    * importance model — a purged doc's tokens must stop steering the
    * data-selection gate. */
  val q352ImportanceForget = Q(
    "q352_importance_forget",
    (s, d) => {
      import s.implicits._
      val dir = graft.operators.Importance.defaultDir(s"imp64f_$d")
      val tb = graft.operators.Importance.docBuckets(
        Tables.documents(s, d), "doc_id", "text", 64,
        carryCols = Seq("lang"))
        .localCheckpoint(true)
      graft.operators.Generation.withFingerprint(dir, s"imp64f_$d#v1") {
        graft.operators.Importance.buildModel(tb, $"lang" === "en", 64,
          dir)
        graft.operators.Importance.removeBatch(s,
          tb.filter($"doc_id" % 7 === 3), $"lang" === "en", dir,
          epoch = 0L)
      }
      graft.operators.Importance.score(tb,
          graft.operators.Importance.storedLambda(s, dir), "doc_id",
          carryCols = Seq("lang"))
        .select($"doc_id", $"lang", $"n_tok", $"score_ppm")
        .orderBy($"score_ppm".desc, $"doc_id")
    },
    Some(importanceSql
      .replace("raw AS (SELECT bucket, sum(c) AS cr FROM tb GROUP BY bucket)",
        "raw AS (SELECT bucket, sum(c) AS cr FROM tb " +
          "WHERE doc_id % 7 <> 3 GROUP BY bucket)")
      .replace("tgt AS (SELECT bucket, sum(c) AS ct FROM tb WHERE lang = 'en'",
        "tgt AS (SELECT bucket, sum(c) AS ct FROM tb " +
          "WHERE lang = 'en' AND doc_id % 7 <> 3")),
    doc = "[NS] importance forget: bucket-count subtraction == remaining-only rebuild")

  /** D5 skew path [NS] — LSH banding edges with hot-bucket STAR
    * contraction ([[graft.operators.Dedup.minhashLshStarEdges]]):
    * buckets over the threshold emit hub spokes (linear) instead of all
    * pairs (quadratic) — the measured cure for a planted heavy near-dup
    * family concentrating one band key (tools/gen_skew.py; the band
    * join's "curse of the last reducer"). hotThreshold = 2 makes the
    * star path REAL on this corpus (the sf0.01 band table has four
    * 3-member buckets → 2 spokes each instead of 3 pairs); the oracle
    * replays the same small-pairs ∪ hot-spokes algebra from scratch. */
  val q370LshSkewStar = Q(
    "q370_lsh_skew_star",
    (s, d) =>
      Dedup.minhashLshStarEdges(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, hotThreshold = 2)
        .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH tg AS ($shinglesSql),
      sig AS (SELECT doc_id,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM tg GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band, s0 AS v0, s1 AS v1 FROM sig UNION ALL
        SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
        SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
        SELECT doc_id, 3, s6, s7 FROM sig),
      st AS (SELECT band, v0, v1, count(*) AS m, min(doc_id) AS hub
        FROM bands GROUP BY 1, 2, 3),
      tagged AS (SELECT b.doc_id, b.band, b.v0, b.v1, st.m, st.hub
        FROM bands b JOIN st USING (band, v0, v1)),
      small_pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM tagged x JOIN tagged y
        ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
          AND x.doc_id < y.doc_id
        WHERE x.m <= 2),
      spokes AS (SELECT DISTINCT hub AS doc_a, doc_id AS doc_b
        FROM tagged WHERE m > 2 AND doc_id <> hub)
      SELECT doc_a, doc_b FROM small_pairs
      UNION SELECT doc_a, doc_b FROM spokes
      ORDER BY doc_a, doc_b"""),
    doc = "[NS] skew-safe LSH edges: hot buckets contract to hub stars")

  /** D5 skew path closure [NS] — the LOSSLESSNESS certificate: connected
    * components over q370's star-contracted edges, checked against
    * q72's oracle — which recomputes the closure over the FULL all-pairs
    * band join from scratch. A green row is the theorem made a test:
    * within one bucket the clique and the hub star connect the same
    * member set, so star contraction changes the edge count (linear vs
    * quadratic on hot buckets) but NEVER the components — the
    * transitive-dedup survivors are identical while the skewed shuffle
    * disappears. */
  val q371DedupComponentsStar = Q(
    "q371_dedup_components_star",
    (s, d) => {
      import s.implicits._
      val edges = Dedup.minhashLshStarEdges(Tables.documents(s, d),
        "doc_id", "text", shingleN = 3, k = 8, bands = 4,
        hotThreshold = 2)
      Dedup.connectedComponents(edges, "doc_a", "doc_b")
        .groupBy($"rep")
        .agg(count(lit(1)).as("n_docs"), max($"node").as("max_doc"))
        .orderBy($"rep")
    },
    q72DedupComponents.oracle,
    doc = "[NS] star-contracted CC == all-pairs CC (q72's oracle, verbatim)")

  /** D5 skew instrument [NS] — the band-bucket size profile
    * ([[graft.operators.Dedup.lshBucketProfile]]): prices a corpus's
    * band join BEFORE running it — per bucket size, the pair volume the
    * all-pairs join would shuffle vs the edges the star contraction
    * would, with the hot flag. Vocabulary-sized aggregates only, so the
    * instrument is safe on exactly the corpora it warns about (the
    * round-11 skew campaign's DNF arms). hotThreshold = 2 here so the
    * hot arithmetic is exercised on this corpus's 3-member buckets. */
  val q372LshBucketProfile = Q(
    "q372_lsh_bucket_profile",
    (s, d) =>
      Dedup.lshBucketProfile(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, hotThreshold = 2)
        .orderBy(col("bucket_size")),
    Some(s"""WITH tg AS ($shinglesSql),
      sig AS (SELECT doc_id,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM tg GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band, s0 AS v0, s1 AS v1 FROM sig UNION ALL
        SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
        SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
        SELECT doc_id, 3, s6, s7 FROM sig),
      bk AS (SELECT band, v0, v1, count(*) AS m FROM bands
        GROUP BY 1, 2, 3)
      SELECT m AS bucket_size, count(*) AS n_buckets,
        (m * (m - 1) // 2 * count(*))::BIGINT AS pairs_all,
        (CASE WHEN m > 2 THEN (m - 1) * count(*)
          ELSE m * (m - 1) // 2 * count(*) END)::BIGINT AS edges_star,
        m > 2 AS is_hot
      FROM bk GROUP BY m ORDER BY bucket_size"""),
    doc = "[NS] band-bucket profile: price the band join before running it")

  /** [NS] — fuzzy near-miss candidates over DEDUP SURVIVORS: the
    * composition a skewed corpus forces. q144's pair-list product
    * cannot be star-contracted (the pairs ARE the product), so on a
    * corpus with a heavy near-dup family the banded fuzzy join cliffs
    * (DNF > 900 s at 10× skew — ARCHITECTURE round-11 campaign). The
    * production ordering is CHEAP DEDUP FIRST: star-contracted banding
    * → connected components → keep each component's representative
    * (+ all singletons) → run the expensive pairwise stage over the
    * survivors, where the hot family has collapsed to ONE doc. Output:
    * the survivors' SimHash-banded near-miss pairs (hamming ≤ 3) with
    * their exact edit distance — the "below the dedup threshold,
    * review me" band (963 rows on this corpus; the collapsed near-dup
    * pairs are gone BY the dedup, which is the point). The oracle
    * recomputes the whole chain — all-pairs closure (components
    * identical to the star's, q371), representative selection, SimHash
    * banding, levenshtein — from scratch. */
  val q373FuzzyOverSurvivors = Q(
    "q373_fuzzy_over_survivors",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val edges = Dedup.minhashLshStarEdges(docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, hotThreshold = 2)
      val cc = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      val reps = docs
        .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"),
          "left")
        .filter($"rep".isNull || $"rep" === $"doc_id")
        .select($"doc_id", $"text")
        .localCheckpoint() // read by the band join AND both text joins
      val t = reps.select($"doc_id", $"text")
      // spread the edit-distance stage by pair key (the lshFuzzyPairs
      // r13 fix): band-join output clusters CPU-heavy pairs on few cores
      Dedup.simhashHammingPairs(reps, "doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism,
          $"doc_a", $"doc_b")
        .join(t.select($"doc_id".as("doc_a"), $"text".as("_ta")),
          Seq("doc_a"))
        .join(t.select($"doc_id".as("doc_b"), $"text".as("_tb")),
          Seq("doc_b"))
        .select($"doc_a", $"doc_b", $"hamming",
          levenshtein($"_ta", $"_tb").cast("long").as("dist"))
        .orderBy($"doc_a", $"doc_b")
    },
    Some(s"""WITH RECURSIVE tg AS ($shinglesSql),
      sig AS (SELECT doc_id,
        min(CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)) AS s0,
        min(CAST('0x' || substr(md5('0:' || gram), 17, 15) AS BIGINT)) AS s1,
        min(CAST('0x' || substr(md5('1:' || gram), 1, 15) AS BIGINT)) AS s2,
        min(CAST('0x' || substr(md5('1:' || gram), 17, 15) AS BIGINT)) AS s3,
        min(CAST('0x' || substr(md5('2:' || gram), 1, 15) AS BIGINT)) AS s4,
        min(CAST('0x' || substr(md5('2:' || gram), 17, 15) AS BIGINT)) AS s5,
        min(CAST('0x' || substr(md5('3:' || gram), 1, 15) AS BIGINT)) AS s6,
        min(CAST('0x' || substr(md5('3:' || gram), 17, 15) AS BIGINT)) AS s7
        FROM tg GROUP BY doc_id),
      bnds AS (
        SELECT doc_id, 0 AS band, s0 AS v0, s1 AS v1 FROM sig UNION ALL
        SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
        SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
        SELECT doc_id, 3, s6, s7 FROM sig),
      prs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bnds x JOIN bnds y
        ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
          AND x.doc_id < y.doc_id),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
        UNION SELECT doc_b, doc_a FROM prs),
      reach(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
      labels AS (SELECT src AS node, min(dst) AS rep
        FROM reach GROUP BY src),
      repdocs AS (SELECT dd.doc_id, dd.text
        FROM documents dd LEFT JOIN labels ON labels.node = dd.doc_id
        WHERE labels.rep IS NULL OR labels.rep = dd.doc_id),
      ${simhashPairsCtes.replace("FROM documents", "FROM repdocs")}
      SELECT hp.doc_a, hp.doc_b, hp.hamming,
        CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
      FROM hp JOIN repdocs ta ON ta.doc_id = hp.doc_a
        JOIN repdocs tb ON tb.doc_id = hp.doc_b
      ORDER BY doc_a, doc_b"""),
    doc = "[NS] cheap dedup first: near-miss review band over survivors")

  /** Shared q374/q375 oracle middle: per-(bucket, group) member counts
    * over a `gm(doc_id, g)` CTE, then the exact per-cell pair-slot
    * arithmetic (diagonal m(m−1)/2, cross m_a·m_b) — the bucket algebra
    * recomputed from scratch in SQL (dual construction vs
    * [[graft.operators.Dedup.lshGroupPairVolume]]). */
  private def groupVolumeTailSql: String =
    """gcnt AS (SELECT b.band, b.v0, b.v1, gm.g, count(*) AS c
        FROM bnd b JOIN gm ON gm.doc_id = b.doc_id GROUP BY 1, 2, 3, 4),
      cells AS (SELECT x.g AS group_a, y.g AS group_b,
          CASE WHEN x.g = y.g THEN x.c * (x.c - 1) // 2
            ELSE x.c * y.c END AS v
        FROM gcnt x JOIN gcnt y
        ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
          AND x.g <= y.g),
      ag AS (SELECT group_a, group_b, CAST(sum(v) AS BIGINT) AS pair_volume
        FROM cells GROUP BY 1, 2 HAVING sum(v) > 0),
      tt AS (SELECT *, sum(pair_volume) OVER () AS tot FROM ag)
      SELECT group_a, group_b, pair_volume,
        group_a <> group_b AS cross_group,
        CAST((1000000 * pair_volume) // tot AS BIGINT) AS share_ppm
      FROM tt ORDER BY group_a, group_b"""

  /** The deterministic hash-split CTE (q56/q289's split law verbatim),
    * shaped as the `gm(doc_id, g)` input of [[groupVolumeTailSql]]. */
  private val splitGroupSql: String =
    """gm AS (SELECT doc_id, CASE
        WHEN CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT)
          % 100 < 80 THEN 'train'
        WHEN CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT)
          % 100 < 90 THEN 'val'
        ELSE 'test' END AS g
      FROM documents)"""

  /** [NS] — split-leakage VOLUME, bucket-arithmetic (the skew-safe
    * sibling q289 cannot be: its n_pairs product is pair-determined, so
    * star contraction would change it — this computes the same
    * question's pricing currency without ever materializing a pair).
    * [[graft.operators.Dedup.lshGroupPairVolume]] against the hash
    * split: per split pair, the pair-slots the all-pairs band join
    * would shuffle (q372's `pairs_all`, sliced by group). On the
    * planted-hot-family fixture this stays |buckets|·|groups|-sized
    * where q289's exact count rides the measured all-pairs cliff. */
  val q374SplitLeakageVolume = Q(
    "q374_split_leakage_volume",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val meta = graft.operators.Curation.assignSplit(docs, "doc_id")
        .select($"doc_id", $"split")
      Dedup.lshGroupPairVolume(docs, "doc_id", "text", meta, "split",
          shingleN = 3, k = 8, bands = 4)
        .orderBy($"group_a", $"group_b")
    },
    Some(s"""WITH $candidatePairsSql,
      $splitGroupSql,
      $groupVolumeTailSql"""),
    doc = "[NS] split-leakage band-join volume, bucket arithmetic (skew-safe)")

  /** [NS] — cross-source duplication VOLUME, bucket-arithmetic: the
    * r11-verdict-prescribed skew story for q290 (whose per-pair counts
    * are the exact record and pair-determined by design). Same
    * group-pair pricing as q374, keyed by `source` — which source
    * pairs the joint band join would spend its shuffle on, linear on
    * corpora where q290's all-pairs form is the measured DNF. */
  val q375SourceDupVolume = Q(
    "q375_source_dup_volume",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      Dedup.lshGroupPairVolume(docs, "doc_id", "text",
          docs.select($"doc_id", $"source"), "source",
          shingleN = 3, k = 8, bands = 4)
        .orderBy($"group_a", $"group_b")
    },
    Some(s"""WITH $candidatePairsSql,
      gm AS (SELECT doc_id, source AS g FROM documents),
      $groupVolumeTailSql"""),
    doc = "[NS] cross-source dup band-join volume, bucket arithmetic (skew-safe)")

  /** [NS] — COMPONENT-level split leakage: the decision-grade audit
    * that IS star-safe (what q289's pair counts approximate): a
    * near-dup component spanning train and test leaks regardless of
    * how many candidate pairs link it, and decontamination (q58) acts
    * on components, not pairs. CC over the star-contracted edges,
    * every doc labeled (singletons are their own component), then per
    * distinct SPLIT-SET signature: component count, doc count, leaked
    * flag. Exact under any skew by q371's theorem — the oracle runs
    * the all-pairs WITH RECURSIVE closure and must land on identical
    * components. */
  val q376SplitLeakageComponents = Q(
    "q376_split_leakage_components",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val edges = Dedup.minhashLshStarEdges(docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, hotThreshold = 64)
      val cc = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      val meta = graft.operators.Curation.assignSplit(docs, "doc_id")
        .select($"doc_id", $"split")
      meta.join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"),
          "left")
        .withColumn("rep", coalesce($"rep", $"doc_id"))
        .groupBy($"rep")
        .agg(concat_ws(",", sort_array(collect_set($"split")))
          .as("splits"), count(lit(1)).as("n_docs"))
        .groupBy($"splits")
        .agg(count(lit(1)).as("n_components"), sum($"n_docs").as("n_docs"))
        .withColumn("leaked", $"splits".contains(","))
        .orderBy($"splits")
    },
    Some(s"""WITH RECURSIVE $candidatePairsSql,
      edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
        UNION SELECT doc_b, doc_a FROM prs),
      reach(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
      labels AS (SELECT src AS node, min(dst) AS rep
        FROM reach GROUP BY src),
      $splitGroupSql,
      labs AS (SELECT gm.doc_id, gm.g AS split,
          coalesce(l.rep, gm.doc_id) AS rep
        FROM gm LEFT JOIN labels l ON l.node = gm.doc_id),
      ds AS (SELECT rep, split FROM labs GROUP BY 1, 2),
      sk AS (SELECT rep, string_agg(split, ',' ORDER BY split) AS splits
        FROM ds GROUP BY rep),
      cnt AS (SELECT rep, count(*) AS n_docs FROM labs GROUP BY rep)
      SELECT sk.splits, CAST(count(*) AS BIGINT) AS n_components,
        CAST(sum(cnt.n_docs) AS BIGINT) AS n_docs,
        sk.splits LIKE '%,%' AS leaked
      FROM sk JOIN cnt ON cnt.rep = sk.rep
      GROUP BY sk.splits ORDER BY splits"""),
    doc = "[NS] component-level split leakage (star-safe exact audit)")

  /** [NS] — the star-threshold ADVISOR
    * ([[graft.operators.Dedup.advisedHotThreshold]]): closes the loop
    * q372 opened — instead of a hand-picked hotThreshold = 64, read
    * the bucket profile and pick the largest threshold whose total
    * edge volume (exact pairs for buckets ≤ t, hub spokes above) fits
    * a shuffle budget; the q287 advisor move applied to the hot-bucket
    * cure. Budget 95 on this corpus sits between cost(t=2) = 94 and
    * cost(t=3) = 98 = the full pair volume, so the selection is real:
    * advised t = 2 contracts exactly the four 3-member buckets. The
    * oracle recomputes histogram, cumulative costs, and argmax from
    * scratch. */
  val q377StarThresholdAdvisor = Q(
    "q377_star_threshold_advisor",
    (s, d) =>
      Dedup.advisedHotThreshold(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, budgetPairs = 95L),
    Some(s"""WITH $candidatePairsSql,
      bk AS (SELECT band, v0, v1, count(*) AS m FROM bnd GROUP BY 1, 2, 3),
      h AS (SELECT m, count(*) AS nb FROM bk GROUP BY m),
      c AS (SELECT m,
          sum(m * (m - 1) // 2 * nb) OVER (ORDER BY m) AS cum_pairs,
          sum((m - 1) * nb) OVER (ORDER BY m) AS cum_spokes,
          sum((m - 1) * nb) OVER () AS tot_spokes,
          sum(m * (m - 1) // 2 * nb) OVER () AS tot_pairs
        FROM h),
      cst AS (SELECT m, cum_pairs + tot_spokes - cum_spokes AS cost,
          tot_spokes, tot_pairs FROM c)
      SELECT
        CAST(coalesce(max(CASE WHEN cost <= 95 THEN m END), 1)
          AS BIGINT) AS advised_threshold,
        CAST(coalesce(max(CASE WHEN cost <= 95 THEN cost END),
          max(tot_spokes)) AS BIGINT) AS edge_volume,
        CAST(95 AS BIGINT) AS budget,
        coalesce(max(CASE WHEN cost <= 95 THEN cost END),
          max(tot_spokes)) <= 95 AS within_budget,
        CAST(max(tot_pairs) AS BIGINT) AS pairs_volume_full,
        CAST(max(tot_spokes) AS BIGINT) AS edges_volume_floor
      FROM cst"""),
    doc = "[NS] self-tuning star threshold from the measured bucket profile")

  /** [NS] — component-colocated shard placement
    * ([[graft.operators.Shard.colocationCompare]]): near-dup CC labels
    * (star edges, q371's certified path) routed to 8 shards two ways —
    * by document id vs by component representative — and audited side
    * by side. `by_doc` splits components across shards, so every future
    * dedup pass over the sharded corpus needs a global re-link shuffle;
    * `by_component` lands components whole (n_spanning_components = 0
    * structurally), making dedup shard-local at 100 TB; the
    * max_shard_docs delta between the rows is the balance price of that
    * colocation. Oracle: all-pairs WITH RECURSIVE closure + the HRW
    * argmax recomputed from scratch for both strategies. */
  val q380ColocatedShards = Q(
    "q380_colocated_shards",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val edges = Dedup.minhashLshStarEdges(docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, hotThreshold = 64)
      val cc = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      val labeled = docs.select($"doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"),
          "left")
        .withColumn("rep", coalesce($"rep", $"doc_id"))
      graft.operators.Shard.colocationCompare(labeled, "doc_id", "rep", 8)
        .orderBy($"strategy")
    },
    Some(s"""WITH RECURSIVE $candidatePairsSql,
      edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
        UNION SELECT doc_b, doc_a FROM prs),
      reach(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
      labels AS (SELECT src AS node, min(dst) AS rep
        FROM reach GROUP BY src),
      labs AS (SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS rep
        FROM documents d LEFT JOIN labels l ON l.node = d.doc_id),
      sh AS (SELECT range AS s FROM range(0, 8)),
      hb AS (SELECT doc_id, rep, s,
          md5(doc_id::VARCHAR || ':' || s::VARCHAR) AS hd,
          md5(rep::VARCHAR || ':' || s::VARCHAR) AS hr
        FROM labs CROSS JOIN sh),
      a AS (SELECT doc_id, rep, arg_max(s, hd) AS sd,
          arg_max(s, hr) AS sc
        FROM hb GROUP BY doc_id, rep),
      u AS (SELECT 'by_doc' AS strategy, rep, sd AS shard FROM a
        UNION ALL SELECT 'by_component', rep, sc FROM a),
      pc AS (SELECT strategy, rep, count(DISTINCT shard) AS ns,
          count(*) AS nd
        FROM u GROUP BY 1, 2),
      cs AS (SELECT strategy, CAST(count(*) AS BIGINT) AS n_components,
          CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_spanning_components,
          CAST(sum(nd) AS BIGINT) AS n_docs
        FROM pc GROUP BY 1),
      ld AS (SELECT strategy, shard, count(*) AS n FROM u GROUP BY 1, 2),
      la AS (SELECT strategy, CAST(count(*) AS BIGINT) AS n_shards_used,
          CAST(max(n) AS BIGINT) AS max_shard_docs,
          CAST(min(n) AS BIGINT) AS min_shard_docs
        FROM ld GROUP BY 1)
      SELECT cs.strategy AS strategy, n_docs, n_components,
        n_spanning_components, n_shards_used, max_shard_docs,
        min_shard_docs
      FROM cs JOIN la ON la.strategy = cs.strategy
      ORDER BY cs.strategy"""),
    doc = "[NS] near-dup-component-colocated HRW sharding vs by-doc, priced")

  /** [NS] — size-CAPPED component colocation
    * ([[graft.operators.Shard.colocationCapped]]): q380's
    * `by_component` routing with the policy the skew campaign's corpus
    * family demands — a component holding more than the cap falls back
    * to by-doc routing and is REPORTED in `n_capped_components`
    * instead of silently landing 20% of the corpus on one shard (the
    * skew100 mega-component regime; measured in ARCHITECTURE.md's
    * round-13 table). Cap = ∞ reduces to q380's by_component exactly
    * (ShardSpec-pinned); every spanning component is a capped one, so
    * n_spanning ≤ n_capped structurally. Oracle: closure, component
    * sizes, conditional routing key, and the HRW argmax recomputed
    * from scratch. */
  val q396ColocationCapped = Q(
    "q396_colocation_capped",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val edges = Dedup.minhashLshStarEdges(docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, hotThreshold = 64)
      val cc = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      val labeled = docs.select($"doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"),
          "left")
        .withColumn("rep", coalesce($"rep", $"doc_id"))
      graft.operators.Shard.colocationCapped(labeled, "doc_id", "rep",
        8, 2L)
    },
    Some(s"""WITH RECURSIVE $candidatePairsSql,
      edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
        UNION SELECT doc_b, doc_a FROM prs),
      reach(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
      labels AS (SELECT src AS node, min(dst) AS rep
        FROM reach GROUP BY src),
      labs AS (SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS rep
        FROM documents d LEFT JOIN labels l ON l.node = d.doc_id),
      siz AS (SELECT rep, count(*) AS csize FROM labs GROUP BY rep),
      rk AS (SELECT labs.doc_id, labs.rep, siz.csize > 2 AS capped,
          CASE WHEN siz.csize > 2 THEN labs.doc_id::VARCHAR
            ELSE labs.rep::VARCHAR END AS rkey
        FROM labs JOIN siz ON siz.rep = labs.rep),
      sh AS (SELECT range AS s FROM range(0, 8)),
      hb AS (SELECT doc_id, rep, capped, s,
          md5(rkey || ':' || s::VARCHAR) AS hx
        FROM rk CROSS JOIN sh),
      a AS (SELECT doc_id, rep, capped, arg_max(s, hx) AS shard
        FROM hb GROUP BY doc_id, rep, capped),
      pc AS (SELECT rep, count(DISTINCT shard) AS ns, count(*) AS nd,
          max(CASE WHEN capped THEN 1 ELSE 0 END) AS ov
        FROM a GROUP BY rep),
      cs AS (SELECT CAST(count(*) AS BIGINT) AS n_components,
          CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_spanning_components,
          CAST(sum(nd) AS BIGINT) AS n_docs,
          CAST(sum(ov) AS BIGINT) AS n_capped_components
        FROM pc),
      ld AS (SELECT shard, count(*) AS n FROM a GROUP BY shard),
      la AS (SELECT CAST(count(*) AS BIGINT) AS n_shards_used,
          CAST(max(n) AS BIGINT) AS max_shard_docs,
          CAST(min(n) AS BIGINT) AS min_shard_docs
        FROM ld)
      SELECT 'by_component_capped' AS strategy, n_docs, n_components,
        n_spanning_components, n_shards_used, max_shard_docs,
        min_shard_docs, n_capped_components
      FROM cs, la"""),
    doc = "[NS] capped component colocation: mega-components fall back by-doc, reported")

  /** D5 [NS] — SHARDED dedup-index gate
    * ([[graft.operators.DedupIndex.buildSharded]]/[[graft.operators.DedupIndex.gateSharded]]):
    * q112's lifecycle with the placement family applied to the stored
    * artifact itself — each index table hive-partitioned by the HRW
    * shard of its own PROBE key (`_h` for hashes, the band-key tuple
    * for bands), so the incoming batch's keys name the only shard
    * directories the probe plan reads (`shard IN (…)` partition
    * pruning; a single-doc probe touches ≤ bands + 1 of them,
    * spec-pinned on the plan). Pruning is lossless for the semi-join
    * probes — equal key ⇒ equal shard — so admissions are identical to
    * the flat gate, and the oracle is q111's from-scratch recomputation
    * unchanged: the strongest possible check that physical layout
    * changed nothing semantic. */
  val q397ShardedIndexGate = Q(
    "q397_sharded_index_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.operators.DedupIndex.defaultDir(d + "#sharded")
      graft.operators.DedupIndex.buildShardedIfAbsent(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, dir = dir, nShards = 8,
        corpusTag = d + "#sharded")
      graft.operators.DedupIndex.gateSharded(s, dir,
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    q111DedupIncremental.oracle,
    doc = "[NS] dedup gate from the HRW-sharded stored index: pruned probes, same admissions")

  /** D5 [NS] — sharded-index RESHARD certificate
    * ([[graft.operators.DedupIndex.reshardSharded]]): the q379
    * movement theorem on REAL artifact files — the stored hash and
    * band tables resharded 8→10 under the generation protocol, with
    * the per-table certificate computed from the actual stored rows:
    * `illegal_moves` must be 0 (no row moves between two surviving
    * shards), so a migration plan ships exactly `n_moved` rows and
    * every unmoved row already sits in a correctly-named partition of
    * the new generation. Oracle: the archive's hash and band-key
    * relations re-derived from scratch, both HRW assignments replayed
    * per row, movers counted in SQL. */
  val q398ShardedReshard = Q(
    "q398_sharded_reshard",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.operators.DedupIndex.defaultDir(d + "#reshard")
      graft.operators.Generation.withFingerprint(dir, d + "#reshard13") {
        graft.operators.DedupIndex.buildSharded(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          shingleN = 3, k = 8, bands = 4, dir = dir, nShards = 8)
      }
      // deterministic replay: reshard FROM the 8-shard generation. A
      // bench/verify rerun finds the store already resharded (gen ≥ 1,
      // nShards 10) — rebuild the 8-shard gen 0 only then, under the
      // same fingerprint guard semantics (withFingerprint keyed on the
      // reshard INPUT, not the output).
      if (graft.operators.DedupIndex.storedShards(dir) != 8)
        graft.operators.DedupIndex.buildSharded(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          shingleN = 3, k = 8, bands = 4, dir = dir, nShards = 8)
      graft.operators.DedupIndex.reshardSharded(s, dir, nTo = 10)
    },
    Some(s"""WITH arc AS (SELECT doc_id, text FROM documents
        WHERE doc_id % 5 <> 0),
      tgA AS (${shinglesSqlFrom("arc")}),
      sigA AS (${minhashSigSqlFrom("tgA")}),
      bA AS (${lshBandsSqlFrom("sigA")}),
      b AS (SELECT DISTINCT doc_id, band, v0, v1 FROM bA),
      hrows AS (SELECT DISTINCT doc_id, md5(text) AS h FROM arc),
      shf AS (SELECT range AS s FROM range(0, 8)),
      sht AS (SELECT range AS s FROM range(0, 10)),
      bf AS (SELECT doc_id, band, v0, v1, arg_max(s,
          md5(band::VARCHAR || ':' || v0::VARCHAR || ':' ||
            v1::VARCHAR || ':' || s::VARCHAR)) AS sf
        FROM b CROSS JOIN shf GROUP BY doc_id, band, v0, v1),
      bt AS (SELECT doc_id, band, v0, v1, arg_max(s,
          md5(band::VARCHAR || ':' || v0::VARCHAR || ':' ||
            v1::VARCHAR || ':' || s::VARCHAR)) AS st
        FROM b CROSS JOIN sht GROUP BY doc_id, band, v0, v1),
      bc AS (SELECT 'bands' AS table_name,
          CAST(count(*) AS BIGINT) AS n_total,
          CAST(sum(CASE WHEN sf <> st THEN 1 ELSE 0 END) AS BIGINT)
            AS n_moved,
          CAST(sum(CASE WHEN sf <> st AND sf < 8 AND st < 8
            THEN 1 ELSE 0 END) AS BIGINT) AS illegal_moves
        FROM bf JOIN bt USING (doc_id, band, v0, v1)),
      hf AS (SELECT doc_id, h,
          arg_max(s, md5(h || ':' || s::VARCHAR)) AS sf
        FROM hrows CROSS JOIN shf GROUP BY doc_id, h),
      ht AS (SELECT doc_id, h,
          arg_max(s, md5(h || ':' || s::VARCHAR)) AS st
        FROM hrows CROSS JOIN sht GROUP BY doc_id, h),
      hc AS (SELECT 'hashes' AS table_name,
          CAST(count(*) AS BIGINT) AS n_total,
          CAST(sum(CASE WHEN sf <> st THEN 1 ELSE 0 END) AS BIGINT)
            AS n_moved,
          CAST(sum(CASE WHEN sf <> st AND sf < 8 AND st < 8
            THEN 1 ELSE 0 END) AS BIGINT) AS illegal_moves
        FROM hf JOIN ht USING (doc_id, h)),
      u AS (SELECT * FROM bc UNION ALL SELECT * FROM hc)
      SELECT table_name, n_total, n_moved,
        CAST((1000000 * n_moved) // n_total AS BIGINT) AS moved_ppm,
        CAST(200000 AS BIGINT) AS expected_moved_ppm, illegal_moves
      FROM u ORDER BY table_name"""),
    doc = "[NS] reshard certificate on real artifact files: ships exactly n_moved rows")

  /** D5 [NS] — sharded-index certified forget
    * ([[graft.operators.DedupIndex.removeDocsSharded]]): q349's RTBF
    * law on the SHARDED store — the purged docs' hash/band rows
    * anti-join out of every shard partition (rows keep their shard:
    * the routing key did not change), written as the next generation
    * under the claim + CAS + replay-fence protocol, then the batch
    * gated through the pruned probes. Same remaining-only oracle as
    * q349: physical layout must not change what forget means. */
  val q399ShardedForget = Q(
    "q399_sharded_forget",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val arc = docs.filter(col("doc_id") % 5 =!= 0)
      val dir = graft.operators.DedupIndex.defaultDir(d + "#shforget")
      graft.operators.Generation.withFingerprint(dir, d + "#shforget13") {
        graft.operators.DedupIndex.buildSharded(arc, "doc_id", "text",
          shingleN = 3, k = 8, bands = 4, dir = dir, nShards = 8)
        graft.operators.DedupIndex.removeDocsSharded(s, dir,
          arc.filter(col("doc_id") % 7 === 3), "doc_id")
      }
      graft.operators.DedupIndex.gateSharded(s, dir,
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    q111DedupIncremental.oracle.map(_.replace(
      "arc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0)",
      "arc AS (SELECT doc_id, text FROM documents " +
        "WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 3)")),
    doc = "[NS] sharded-index forget: per-doc anti-join removal == remaining-only rebuild")

  val all: Seq[Q] = Seq(q22ExactDedup, q23NgramJaccard, q24MinhashLsh,
    q25Simhash, q26LangId, q27QualityScore, q28TokenCount, q29Fingerprint,
    q49Winnowing, q52JaccardPrefix, q68MinhashUnion, q70Repetition,
    q72DedupComponents, q76FuzzyLookup, q78CcDoubling, q81Collocations,
    q83TfidfTerms, q90SourceSimilarity, q93SimhashHamming, q94NfcNormalize,
    q97CcHybrid, q101TopkAgg, q103ModelGate, q108PhashPairs,
    q109NearDupGate, q111DedupIncremental, q112DedupIndexGate,
    q115BloomGate, q116KeepBest, q119HeavyHitters, q141Containment,
    q144LshFuzzy, q145CcIncremental, q164LshRecall, q191DatasetCard,
    q196CohenKappa, q199PatchGrid, q206Snippets, q207VocabGrowth,
    q208ExtractText, q229NoveltyGrade, q236BloomAdvisor,
    q237ExtractionHealth, q240DedupRoi, q250FrameEnergy,
    q255DupCoverage, q272SourceAblation, q279MinhashError,
    q280Importance, q284ImportanceServe, q287LshAdvisor,
    q289SplitLeakage, q290SourceDupMatrix, q296RboStability,
    q297ClusterProfile, q298HashCollisions, q325RankGamma,
    q326SortedNeighborhood, q349DedupIndexForget, q352ImportanceForget,
    q370LshSkewStar, q371DedupComponentsStar, q372LshBucketProfile,
    q373FuzzyOverSurvivors, q374SplitLeakageVolume, q375SourceDupVolume,
    q376SplitLeakageComponents, q377StarThresholdAdvisor,
    q380ColocatedShards, q396ColocationCapped, q397ShardedIndexGate,
    q398ShardedReshard, q399ShardedForget)
}

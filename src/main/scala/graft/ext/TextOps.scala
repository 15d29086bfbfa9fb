package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{Caches, Exprs, PlanChecks, Q, WorkDirs}
import Exprs._

/** LLM-training-data text operators over the `documents` table
  * (doc_id, text, lang, source, n_chars) — the extension surface mandated
  * beyond reference parity (SURVEY.md §7.5): token/quality stats, language
  * ID, term frequencies, exact + fuzzy (MinHash/LSH) dedup, n-gram Jaccard,
  * SimHash, and positional rolling-hash fingerprints.
  *
  * Every query is engine-side only (no collects, no UDFs — all codegen'd
  * higher-order array functions) and mirrored exactly in DuckDB for the
  * correctness gate. Hashes go through [[Exprs.md5Int]] so both engines
  * compute bit-identical signatures.
  *
  * 100 TB posture: per-document work (tokenize/shingle/hash/signature) is a
  * narrow map — scales linearly, no shuffle. The only shuffles are the
  * dedup joins, and those are banded LSH bucket joins / inverted-index
  * shingle joins — candidate generation is O(collisions), never all-pairs.
  */
object TextOps {

  private val stops = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  private val stopsSql = stops.map(w => s"'$w'").mkString(", ")

  /** Tokenized view shared by the oracle SQL. */
  private val toksSql =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"""
  private val tkCte = s"WITH tk AS (SELECT doc_id, lang, source, text, $toksSql AS t FROM documents)"

  /** Token-trigram shingles in DuckDB (mirror of Exprs.shingles(_, 3)). */
  private val shSql =
    "CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END"

  // MinHash parameters: K signature hashes, B bands of R=K/B rows.
  private val K = 12
  private val B = 6

  // Universal-hash family for minhash: h_j(x) = (a_j·md5int(x) + b_j) mod P.
  // ONE md5 per shingle + K integer affine maps instead of K md5s (3× at
  // sf0.1); md5int < 2^32 and a_j < 2^21 keep every product below 2^63, so
  // the arithmetic is exact BIGINT in both Spark and DuckDB.
  private val P = 2147483647L
  private val hashA: Seq[Long] = (0 until K).map(j => 2L * (j * 65497 + 40507) + 1)
  private val hashB: Seq[Long] = (0 until K).map(j => (j * 97561L + 12841) % P)
  private val hashASql = hashA.mkString("[", ", ", "]")
  private val hashBSql = hashB.mkString("[", ", ", "]")

  // Rolling-hash: polynomial over the first 12 token hashes, base 31 mod M.
  private val M = 2147483647L
  private val pows: Seq[Long] = Iterator.iterate(1L)(x => x * 31 % M).take(12).toSeq

  /** quality = 0.4·stop_ratio + 0.6·min(1, n_tok/100) over token array `t`. */
  private def qualityCol(t: Column): Column =
    lit(0.4) * (aggregate(t, lit(0), (a, x) => a + when(x.isin(stops: _*), 1).otherwise(0))
      .cast("double") / size(t)) +
      lit(0.6) * least(lit(1.0), size(t).cast("double") / 100.0)

  private def qualitySql(t: String): String =
    s"""CAST(0.4 AS DOUBLE) * (CAST(list_sum(list_transform($t, x -> CASE WHEN x IN ($stopsSql) THEN 1 ELSE 0 END)) AS DOUBLE) / len($t))
       | + CAST(0.6 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), CAST(len($t) AS DOUBLE) / 100.0)""".stripMargin

  /** Row-level token-trigram shingles (doc_id, x) from a (doc_id, t) token
    * frame: codegen'd posexplode + window-lead instead of interpreted array
    * HOFs — profiled 8× faster than transform/slice/concat_ws arrays at
    * sf0.1 (and exploding those arrays re-evaluates the interpreted lambda,
    * worse still). Docs with <3 tokens simply yield no rows. The window's
    * doc_id shuffle is REUSED by the downstream per-doc signature groupBy,
    * so net shuffle count is unchanged.
    */
  private def shingleRows(toks: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("i")
    toks.select(col("doc_id"), posexplode(col("t")).as(Seq("i", "tok")))
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), lead("tok", 1).over(w), lead("tok", 2).over(w)).as("x"),
        lead("tok", 2).over(w).isNotNull.as("ok"))
      .filter(col("ok")).select("doc_id", "x")
  }

  /** MinHash signatures for (doc_id, x) shingle rows: one md5 per shingle,
    * K affine re-hashes, mins materialized at the partial-aggregating
    * groupBy shuffle.
    */
  private def sigsOf(rows: DataFrame): DataFrame = {
    val hashed = rows
      .select(col("doc_id"), md5Int("mh:", col("x")).as("h"))
      .select(col("doc_id") +:
        (0 until K).map(j => ((col("h") * hashA(j) + hashB(j)) % P).as(s"h$j")): _*)
    val minAggs = (0 until K).map(j => min(col(s"h$j")).as(s"m$j"))
    hashed.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"), array((0 until K).map(j => col(s"m$j")): _*).as("sig"))
  }

  /** Banded bucket rows (doc_id, sig, band, bkey) for `b` bands of
    * `r = k/b` signature rows each, persisted via [[Caches]] (runner
    * releases after the consuming action) — both sides of the candidate
    * self-join consume it. b and r are THE recall/precision knobs: a pair
    * is a candidate iff one full band matches, P(candidate) = 1-(1-s^r)^b,
    * so more rows per band → stricter candidates, more bands → higher
    * recall. At 100 TB tune r up first (bucket sizes shrink), then b to
    * recover recall.
    */
  private def bandsOf(sigs: DataFrame, b: Int, r: Int): DataFrame =
    Caches.cached(sigs.select(col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(b - 1)), bb => struct(
        bb.as("band"),
        md5(concat_ws("_",
          (1 to r).map(j => element_at(col("sig"), bb * r + j).cast("string")): _*)
          .cast("binary")).as("bkey")))).as("bs"))
      .select(col("doc_id"), col("sig"), col("bs.band").as("band"), col("bs.bkey").as("bkey")))

  /** Candidate pairs (d1 < d2) with their signature-estimated similarity,
    * from a (doc_id, t: array&lt;string&gt;) token frame. `bands` must
    * divide K; rows-per-band = K / bands.
    */
  private def lshPairs(toks: DataFrame, bands: Int = B): DataFrame = {
    require(K % bands == 0, s"bands=$bands must divide K=$K")
    val bt = bandsOf(sigsOf(shingleRows(toks)), bands, K / bands)
    val l = bt.select(col("doc_id").as("d1"), col("band"), col("bkey"), col("sig").as("sig1"))
    val r = bt.select(col("doc_id").as("d2"), col("band"), col("bkey"), col("sig").as("sig2"))
    l.join(r, Seq("band", "bkey"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2", "sig1", "sig2")
      .dropDuplicates("d1", "d2") // sig cols are functions of d1/d2 → deterministic
      .select(col("d1"), col("d2"),
        (aggregate(zip_with(col("sig1"), col("sig2"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (a, v) => a + v)
          .cast("double") / K).as("est_sim"))
  }

  /** Just the sigs_<tag> + bands_<tag> CTEs of [[lshPairsSql]] — for
    * oracles about the INDEX itself (q212) rather than the pair join.
    */
  private def sigsBandsSql(src: String, tag: String, bands: Int = B): String = {
    val r = K / bands
    val bkey = (1 to r).map(j => s"CAST(sig[$r*b+$j] AS VARCHAR)").mkString(" || '_' || ")
    s"""sigs_$tag AS (SELECT doc_id, list_transform(range(0, $K), j ->
       |  list_min(list_transform(sh, x -> (${md5IntSql("mh:", "x")} * ($hashASql)[j+1] + ($hashBSql)[j+1]) % $P))) AS sig FROM $src),
       |bands_$tag AS (SELECT doc_id, sig, b,
       |  md5($bkey) AS bkey
       |  FROM sigs_$tag CROSS JOIN (SELECT unnest(range(0, $bands)) AS b))""".stripMargin
  }

  /** DuckDB mirror of sigs→bands→pairs over a CTE named `<src>` holding
    * (doc_id, sh); emits CTEs `sigs_<tag>`, `bands_<tag>`, `pairs_<tag>`.
    */
  private def lshPairsSql(src: String, tag: String, bands: Int = B): String = {
    s"""${sigsBandsSql(src, tag, bands)},
       |pairs_$tag AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
       |  CAST(list_sum(list_transform(range(1, $K + 1), j ->
       |    CASE WHEN s1.sig[j] = s2.sig[j] THEN 1 ELSE 0 END)) AS DOUBLE) / $K AS est_sim
       |  FROM bands_$tag l JOIN bands_$tag r ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id
       |  JOIN sigs_$tag s1 ON s1.doc_id = l.doc_id JOIN sigs_$tag s2 ON s2.doc_id = r.doc_id)""".stripMargin
  }

  /** Hashing-trick vectorizer + sparse cosine top-3, parameterized by the
    * hash dimensionality `dim` (q112 at 16, q115 at 2^18). `dim` is THE
    * sparsity lever: nonzeros per doc = min(vocab, dim), and the
    * dim-bucket join's fan-out per probe entry = docs sharing that dim —
    * at a production D (2^18) that is a handful, at the demo D (16) it is
    * every doc. Both run the identical plan and oracle.
    */
  private def featureHashing(name: String, dim: Int): Q =
    Q(name,
      (s, d) => {
        val topk = udaf(new TopK.TopKAgg(3))
        val cnt = Caches.cached(t(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .select(col("doc_id"), (md5Int("fh:", col("tok")) % dim).as("dim"))
          .groupBy("doc_id", "dim").agg(count(lit(1)).as("v")))
        val norms = cnt.groupBy("doc_id").agg(sum(col("v") * col("v")).as("nn"))
        val probes = cnt.filter(col("doc_id") < 5)
          .select(col("doc_id").as("q_id"), col("dim"), col("v").as("qv"))
        val dots = cnt.join(broadcast(probes), Seq("dim"))
          .filter(col("doc_id") =!= col("q_id"))
          .groupBy("q_id", "doc_id").agg(sum(col("qv") * col("v")).as("dot"))
        dots
          .join(norms.select(col("doc_id").as("q_id"), col("nn").as("qn")), Seq("q_id"))
          .join(norms, Seq("doc_id"))
          .select(col("q_id"), col("doc_id"),
            (col("dot").cast("double") / sqrt((col("qn") * col("nn")).cast("double"))).as("cos"))
          .groupBy("q_id").agg(topk(col("doc_id"), col("cos")).as("top"))
          .select(col("q_id"), posexplode(col("top")))
          .select(col("q_id"), col("col.id").as("doc_id"),
            col("col.score").as("cos"), (col("pos") + 1).as("rnk"))
          .orderBy("q_id", "rnk")
      },
      Some(s"""$tkCte,
        ex AS (SELECT doc_id, unnest(t) AS tok FROM tk),
        cnt AS (SELECT doc_id, ${md5IntSql("fh:", "tok")} % $dim AS dim, COUNT(*) AS v
                FROM ex GROUP BY 1, 2),
        norms AS (SELECT doc_id, SUM(v * v) AS nn FROM cnt GROUP BY 1),
        dots AS (SELECT q.doc_id AS q_id, c.doc_id AS doc_id, SUM(q.v * c.v) AS dot
                 FROM cnt q JOIN cnt c ON q.dim = c.dim AND c.doc_id <> q.doc_id
                 WHERE q.doc_id < 5 GROUP BY 1, 2),
        cos AS (SELECT d.q_id, d.doc_id,
                  CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nn * nd.nn AS DOUBLE)) AS cos
                FROM dots d JOIN norms nq ON nq.doc_id = d.q_id
                JOIN norms nd ON nd.doc_id = d.doc_id),
        r AS (SELECT q_id, doc_id, cos,
                row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rnk
              FROM cos)
        SELECT q_id, doc_id, cos, rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""))

  /** PII scrub patterns (category, regex, replacement) — RE2-safe so the
    * same pattern runs in Spark (Java regex) and DuckDB (RE2): character
    * classes, bounded repetition, \\b word boundaries, non-capturing
    * groups only. Order matters: phones scrub before SSNs so a partially
    * redacted phone can never be re-matched as an SSN fragment.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("ipv4", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"))

  /** Scrub PII from `textCol`: per-category match counts (for corpus
    * audit metrics) plus the redacted text as `<textCol>_scrubbed`. Pure
    * codegen'd string expressions — one narrow projection, no UDFs, no
    * shuffle; at 100 TB this runs at scan speed.
    */
  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    val counted = PiiPatterns.foldLeft(df) { case (d, (cat, pat, _)) =>
      d.withColumn(s"n_$cat",
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))))
    }
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, rep)) => regexp_replace(c, pat, rep)
    }
    counted.withColumn(s"${textCol}_scrubbed", redacted)
  }

  /** Sliding-window token chunking (the pretraining chunk/pack
    * primitive): windows of `chunkSize` tokens advancing by
    * `chunkSize - overlap`, so consecutive chunks share `overlap`
    * tokens. One generate-and-explode projection — `sequence` builds the
    * start offsets, `slice` cuts each window — so the shuffle-free cost
    * is rows × (1 + n/stride), linear in corpus size. Emits `chunk_start`
    * (1-based token offset), `chunk_ntok`, and `chunk_text`.
    */
  def chunkTokens(df: DataFrame, textCol: String,
                  chunkSize: Int = 32, overlap: Int = 8): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize; got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    df.withColumn("__t", tokens(col(textCol)))
      .filter(size(col("__t")) > 0)
      .withColumn("chunk_start",
        explode(sequence(lit(1), size(col("__t")), lit(stride))))
      // a trailing start that only re-covers the previous chunk's overlap
      // (start + overlap > n, possible only when a chunk already ended at
      // n) would emit a fully-duplicated suffix window — drop it
      .filter(col("chunk_start") === 1 ||
        col("chunk_start") + lit(overlap) <= size(col("__t")))
      .withColumn("__c", slice(col("__t"), col("chunk_start"), lit(chunkSize)))
      .withColumn("chunk_ntok", size(col("__c")))
      .withColumn("chunk_text", concat_ws(" ", col("__c")))
      .drop("__t", "__c")
  }

  val queries: Seq[Q] = Seq(

    // ── Quality scoring + token counting (whitespace + BPE-ish regex) ──
    Q("q30_text_stats",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), col("text"), tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
        tk.select(
            col("doc_id"),
            size(col("t")).as("n_tok"),
            size(array_distinct(col("t"))).as("n_distinct"),
            (aggregate(col("t"), lit(0), (a, x) => a + length(x)).cast("double")
              / size(col("t"))).as("avg_tok_len"),
            (aggregate(col("t"), lit(0), (a, x) => a + when(x.isin(stops: _*), 1).otherwise(0))
              .cast("double") / size(col("t"))).as("stop_ratio"),
            size(expr("regexp_extract_all(lower(text), '[a-z0-9]{1,4}', 0)")).as("n_bpe"))
          .withColumn("quality",
            lit(0.4) * col("stop_ratio")
              + lit(0.6) * least(lit(1.0), col("n_tok").cast("double") / 100.0))
          .orderBy("doc_id")
      },
      Some(s"""$tkCte
        SELECT doc_id,
          CAST(len(t) AS INTEGER) AS n_tok,
          CAST(len(list_distinct(t)) AS INTEGER) AS n_distinct,
          CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t) AS avg_tok_len,
          CAST(list_sum(list_transform(t, x -> CASE WHEN x IN ($stopsSql) THEN 1 ELSE 0 END)) AS DOUBLE) / len(t) AS stop_ratio,
          CAST(len(regexp_extract_all(lower(text), '[a-z0-9]{1,4}')) AS INTEGER) AS n_bpe,
          CAST(0.4 AS DOUBLE) * (CAST(list_sum(list_transform(t, x -> CASE WHEN x IN ($stopsSql) THEN 1 ELSE 0 END)) AS DOUBLE) / len(t))
            + CAST(0.6 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), CAST(len(t) AS DOUBLE) / 100.0) AS quality
        FROM tk WHERE len(t) > 0 ORDER BY doc_id""")),

    // ── Language ID: stopword-hit heuristic vs the labeled lang column
    //    (confusion counts); integer compare avoids ratio rounding ──
    Q("q31_lang_id",
      (s, d) => t(s, d, "documents")
        .select(col("lang"), tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
        .select(col("lang"),
          when(aggregate(col("t"), lit(0),
            (a, x) => a + when(x.isin(stops: _*), 1).otherwise(0)) * 10 >= size(col("t")),
            lit("en")).otherwise(lit("unk")).as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted"),
      Some(s"""$tkCte
        SELECT lang,
          CASE WHEN list_sum(list_transform(t, x -> CASE WHEN x IN ($stopsSql) THEN 1 ELSE 0 END)) * 10 >= len(t)
               THEN 'en' ELSE 'unk' END AS predicted,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM tk WHERE len(t) > 0 GROUP BY 1, 2 ORDER BY lang, predicted""")),

    // ── Language ID, character-n-gram heuristic: occurrence counts of
    //    language-marker trigrams via the substring-count identity
    //    (len(t) - len(replace(t, m, ''))) / 3 — pure codegen'd string
    //    ops, no explode, one narrow pass + the confusion-count groupBy ──
    Q("q67_lang_ngram",
      (s, d) => {
        val markers = Seq(
          "en" -> Seq("the", "ing", "ion"),
          "de" -> Seq("der", "sch", "ein"),
          "fr" -> Seq("les", "ent", "que"))
        def score(ms: Seq[String]) = ms.map(m =>
          expr(s"(length(lower(text)) - length(replace(lower(text), '$m', ''))) div 3"))
          .reduce(_ + _)
        val scored = t(s, d, "documents").select(col("lang"),
          score(markers(0)._2).as("s_en"),
          score(markers(1)._2).as("s_de"),
          score(markers(2)._2).as("s_fr"))
        scored.select(col("lang"),
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") && col("s_en") > 0, "en")
            .when(col("s_de") >= col("s_fr") && col("s_de") > 0, "de")
            .when(col("s_fr") > 0, "fr")
            .otherwise("unk").as("predicted"))
          .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
          .orderBy("lang", "predicted")
      },
      Some("""WITH sc AS (SELECT lang,
          (length(lower(text)) - length(replace(lower(text), 'the', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ing', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ion', ''))) // 3 AS s_en,
          (length(lower(text)) - length(replace(lower(text), 'der', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'sch', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ein', ''))) // 3 AS s_de,
          (length(lower(text)) - length(replace(lower(text), 'les', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ent', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'que', ''))) // 3 AS s_fr
        FROM documents)
        SELECT lang,
          CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
               WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
               WHEN s_fr > 0 THEN 'fr'
               ELSE 'unk' END AS predicted,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM sc GROUP BY 1, 2 ORDER BY lang, predicted""")),

    // ── Term frequency + document frequency (explode → one shuffle) ──
    Q("q32_term_freq",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
        .filter(col("tf") >= 5)
        .orderBy("token"),
      Some(s"""$tkCte, ex AS (SELECT doc_id, unnest(t) AS token FROM tk)
        SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM ex GROUP BY token HAVING COUNT(*) >= 5 ORDER BY token""")),

    // ── Exact dedup: content-hash groupBy, keeper = min doc_id ──
    Q("q33_exact_dedup",
      (s, d) => t(s, d, "documents")
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("keeper"),
      Some("""SELECT md5(text) AS h, MIN(doc_id) AS keeper,
        CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY 1 ORDER BY keeper""")),

    // ── Priority-keeper dedup: when the same content arrives from several
    //    sources, keep the copy from the BEST source (curated beats web),
    //    not an arbitrary or min-id one — the survivor rule every corpus
    //    merge runs. Rule here: longest source name, then lexicographic
    //    source, then min doc_id (any total order works; this one is
    //    cross-engine trivial). The per-hash window is bounded by the
    //    duplicate count of one content hash, never corpus size ──
    Q("q167_priority_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("h")
          .orderBy(length(col("source")).desc, col("source"), col("doc_id"))
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            md5(col("text").cast("binary")).as("h"))
          .withColumn("r", row_number().over(w)).filter(col("r") === 1)
          .select(col("h"), col("doc_id").as("keeper"),
            col("source").as("keeper_source"))
          .orderBy("keeper")
      },
      Some("""SELECT h, keeper, keeper_source FROM (
          SELECT md5(text) AS h, doc_id AS keeper, source AS keeper_source,
            row_number() OVER (PARTITION BY md5(text)
              ORDER BY length(source) DESC, source, doc_id) AS r
          FROM documents) WHERE r = 1 ORDER BY keeper""")),

    // ── Incremental dedup — the nightly-ingest flow: a NEW batch is
    //    deduplicated within itself (min-id keeper) and then against the
    //    EXISTING corpus via an anti-join on the content-hash index. The
    //    historical side is hashes only (the index a production pipeline
    //    keeps), so the join shuffles hash keys, never documents ──
    Q("q168_incremental_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
          md5(col("text").cast("binary")).as("h"))
        val corpus = docs.filter(col("doc_id") % 3 =!= 0).select("h").distinct()
        val batch = docs.filter(col("doc_id") % 3 === 0)
        val w = Window.partitionBy("h").orderBy("doc_id")
        val kept = batch.withColumn("r", row_number().over(w))
          .filter(col("r") === 1)
          .join(corpus, Seq("h"), "left_anti")
        batch.groupBy("source").agg(count(lit(1)).as("n_batch"))
          .join(kept.groupBy("source").agg(count(lit(1)).as("n_kept")),
            Seq("source"), "left")
          .select(col("source"), col("n_batch"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some("""WITH docs AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        corpus AS (SELECT DISTINCT h FROM docs WHERE doc_id % 3 <> 0),
        batch AS (SELECT * FROM docs WHERE doc_id % 3 = 0),
        kept AS (SELECT b.* FROM (
            SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS r
            FROM batch) b
          WHERE r = 1 AND h NOT IN (SELECT h FROM corpus))
        SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_batch,
          CAST(COALESCE(k.n, 0) AS BIGINT) AS n_kept
        FROM batch b LEFT JOIN (
          SELECT source, COUNT(*) AS n FROM kept GROUP BY 1) k
          USING (source)
        GROUP BY b.source, k.n ORDER BY b.source""")),

    // ── Dedup ROI report — the cluster-size distribution a data lead
    //    asks for before spending a 100 TB dedup pass: per exact-dup
    //    cluster size, how many clusters and how many documents (docs
    //    minus clusters = rows a dedup would remove). Two tiny groupBys
    //    past the content-hash shuffle ──
    Q("q173_dup_size_distribution",
      (s, d) => t(s, d, "documents")
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(count(lit(1)).as("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("k")).as("n_docs"))
        .orderBy("k"),
      Some("""SELECT k, CAST(COUNT(*) AS BIGINT) AS n_clusters,
          CAST(SUM(k) AS BIGINT) AS n_docs
        FROM (SELECT md5(text) AS h, COUNT(*) AS k
              FROM documents GROUP BY 1)
        GROUP BY k ORDER BY k""")),

    // ── Filter-threshold calibration — the sweep run BEFORE committing a
    //    quality gate to a 100 TB pass: keep-rates per (source, threshold)
    //    for a mean-token-length gate, every threshold measured in ONE
    //    scan (explode the threshold list, not one job per candidate
    //    value). The gate compares sum_len <= thr * n_tok — integer
    //    arithmetic, no float division to drift cross-engine ──
    Q("q169_filter_calibration",
      (s, d) => {
        val m = t(s, d, "documents")
          .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
          .select(col("source"), size(col("t")).cast("long").as("n_tok"),
            aggregate(col("t"), lit(0L), (a, x) => a + length(x)).as("sum_len"))
        m.withColumn("thr", explode(array(Seq(4, 5, 6, 7).map(x => lit(x.toLong)): _*)))
          .groupBy("source", "thr")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("sum_len") <= col("thr") * col("n_tok"), 1L)
              .otherwise(0L)).as("n_kept"))
          .orderBy("source", "thr")
      },
      Some(s"""$tkCte,
        m AS (SELECT source, CAST(len(t) AS BIGINT) AS n_tok,
            CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS sum_len
          FROM tk),
        sw AS (SELECT source, n_tok, sum_len, CAST(UNNEST([4, 5, 6, 7]) AS BIGINT) AS thr FROM m)
        SELECT source, thr, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN sum_len <= thr * n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM sw GROUP BY 1, 2 ORDER BY source, thr""")),

    // ── N-gram novelty — the diversity complement of the dedup family:
    //    per source, how many of its documents' distinct trigrams occur
    //    NOWHERE else in the corpus (global df = 1). Shapes: per-doc
    //    distinct shingles (one dedup shuffle), global df (one groupBy on
    //    the gram), join back — every shuffle keyed on gram hashes,
    //    bounded by distinct grams, never all-pairs ──
    Q("q170_ngram_novelty",
      (s, d) => {
        // shingles as ROWS (codegen'd posexplode + window-lead — the
        // shingleRows lesson: exploding the interpreted transform array
        // re-evaluates the lambda per consumer, profiled ~6× slower
        // here), grams shuffled as 32-bit md5 ints (the q91/q102
        // decontamination trade: identical hashing both engines), and
        // the distinct frame CACHED for its two consumers
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("i")
        val sh = Caches.cached(t(s, d, "documents")
          .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
          .select(col("doc_id"), col("source"),
            posexplode(col("t")).as(Seq("i", "tok")))
          .select(col("doc_id"), col("source"),
            concat_ws(" ", col("tok"),
              lead("tok", 1).over(w), lead("tok", 2).over(w)).as("x"),
            lead("tok", 2).over(w).isNotNull.as("ok"))
          .filter(col("ok"))
          .select(col("doc_id"), col("source"), md5Int("nv:", col("x")).as("g"))
          .distinct())
        // a df=1 gram has exactly ONE (doc, gram) row, so min(source) IS
        // that row's source — the novelty rollup needs no join back onto
        // the doc-gram frame
        val perSource = sh.groupBy("source").agg(count(lit(1)).as("n_grams"))
        val novel = sh.groupBy("g")
          .agg(count(lit(1)).as("df"), min("source").as("source"))
          .filter(col("df") === 1)
          .groupBy("source").agg(count(lit(1)).as("n_novel"))
        perSource.join(novel, Seq("source"), "left")
          .select(col("source"), col("n_grams"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"))
          .orderBy("source")
      },
      Some(s"""$tkCte,
        sh AS (SELECT DISTINCT doc_id, source, ${md5IntSql("nv:", "gs")} AS g
          FROM (SELECT doc_id, source, UNNEST($shSql) AS gs FROM tk)),
        ps AS (SELECT source, COUNT(*) AS n_grams FROM sh GROUP BY 1),
        nv AS (SELECT source, COUNT(*) AS n_novel FROM (
            SELECT g, COUNT(*) AS df, MIN(source) AS source FROM sh GROUP BY g)
          WHERE df = 1 GROUP BY 1)
        SELECT source, CAST(n_grams AS BIGINT) AS n_grams,
          CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel
        FROM ps LEFT JOIN nv USING (source) ORDER BY source""")),

    // ── Corpus length profile — the log-bucketed token-count histogram
    //    every dataset card carries: bucket = bit-length of n_tok
    //    (floor(log2)+1 via `bin()` string length — INTEGER parity, no
    //    float log to drift cross-engine). One scan, one tiny groupBy ──
    Q("q171_length_histogram",
      (s, d) => t(s, d, "documents")
        .select(col("source"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("bucket", length(bin(col("n_tok"))).cast("long"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_total"))
        .orderBy("source", "bucket"),
      Some(s"""$tkCte,
        m AS (SELECT source, CAST(len(t) AS BIGINT) AS n_tok,
            CAST(length(bin(CAST(len(t) AS BIGINT))) AS BIGINT) AS bucket
          FROM tk)
        SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS tok_total
        FROM m GROUP BY 1, 2 ORDER BY source, bucket""")),

    // ── Fuzzy dedup: shingle → K minhashes → B banded buckets → bucket
    //    self-join (candidates = band collisions only, never all-pairs) →
    //    signature-estimated similarity per candidate pair ──
    // Signature computation note: shingles are produced as ROWS (codegen'd
    // posexplode+window) and each is md5-hashed ONCE, with the K hash
    // functions as affine re-maps; the sig array is MATERIALIZED at the
    // groupBy shuffle. A nested transform/array_min version gets inlined by
    // CollapseProject into every downstream reference and recomputes the
    // md5s per band — 20× slower at sf0.1.
    Q("q34_minhash_lsh",
      (s, d) => lshPairs(
        t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t")))
        .orderBy("d1", "d2"),
      Some(s"""$tkCte,
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "a")}
        SELECT d1, d2, est_sim FROM pairs_a ORDER BY d1, d2""")),

    // ── The banding KNOB: same signatures, 4 bands of 3 rows instead of
    //    6×2 — a candidate now needs 3 consecutive minhashes to agree, so
    //    the pair set is a stricter subset (P(candidate) = 1-(1-s^r)^b).
    //    This is the lever that keeps buckets small at 100 TB ──
    Q("q66_lsh_strict_bands",
      (s, d) => lshPairs(
        t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t")), bands = 4)
        .orderBy("d1", "d2"),
      Some(s"""$tkCte,
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "s", bands = 4)}
        SELECT d1, d2, est_sim FROM pairs_s ORDER BY d1, d2""")),

    // ── Exact n-gram Jaccard via inverted shingle index: explode distinct
    //    shingles, drop hot shingles (df cap = skew guard), self-join on
    //    shingle, count commons per pair — candidate pairs share ≥1 rare
    //    shingle, never all-pairs ──
    Q("q35_jaccard_pairs",
      (s, d) => {
        // distinct (doc, shingle) rows straight from the codegen'd
        // row-shingle path — no interpreted array build, no explode;
        // cached: both the df computation and the index join consume it
        val ex = Caches.cached(shingleRows(t(s, d, "documents")
            .select(col("doc_id"), tokens(col("text")).as("t")))
          .select(col("doc_id"), col("x").as("s"))
          .dropDuplicates("doc_id", "s"))
        val rare = ex.groupBy("s").agg(count(lit(1)).as("df")).filter(col("df") <= 50).select("s")
        // consumed 3× (both self-join sides + per-doc sizes): cache once,
        // or the whole tokenize→shingle→explode→df-join tree runs 3×
        val exf = Caches.cached(ex.join(rare, Seq("s")))
        val sizes = exf.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val a = exf.select(col("doc_id").as("d1"), col("s"))
        val b = exf.select(col("doc_id").as("d2"), col("s"))
        a.join(b, Seq("s")).filter(col("d1") < col("d2"))
          .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
          .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
          .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
          .select(col("d1"), col("d2"),
            (col("c").cast("double") / (col("n1") + col("n2") - col("c"))).as("jaccard"))
          .filter(col("jaccard") >= 0.3)
          .orderBy("d1", "d2")
      },
      Some(s"""$tkCte,
        sh AS (SELECT doc_id, list_distinct($shSql) AS sh FROM tk),
        shf AS (SELECT * FROM sh WHERE len(sh) > 0),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM shf),
        rare AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 50),
        exf AS (SELECT ex.doc_id, ex.s FROM ex JOIN rare USING (s)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM exf GROUP BY 1),
        common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
          FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT d1, d2, CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
        FROM common JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
        WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.3
        ORDER BY d1, d2""")),

    // ── SimHash: 32-bit fingerprint from per-token hashes. One md5 per
    //    token (explode), then 32 conditional sums in a single
    //    partial-aggregating groupBy — all static shifts, fully codegen'd ──
    Q("q36_simhash",
      (s, d) => {
        val hs = t(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("x"))
          .select(col("doc_id"), md5Int("sh:", col("x")).as("h"))
        val bitAggs = (0 until 32).map(i =>
          sum(when(shiftright(col("h"), i) % 2 === 1, 1L).otherwise(-1L)).as(s"b$i"))
        hs.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
          .select(col("doc_id"),
            (0 until 32).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L))
              .reduce(_ + _).as("simhash"))
          .orderBy("doc_id")
      },
      Some(s"""$tkCte,
        hs AS (SELECT doc_id, list_transform(t, x -> ${md5IntSql("sh:", "x")}) AS hs
               FROM tk WHERE len(t) > 0)
        SELECT doc_id,
          CAST(list_sum(list_transform(range(0, 32), i ->
            CASE WHEN list_sum(list_transform(hs, h ->
                   CASE WHEN CAST(floor(h / pow(2, i)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END)) > 0
                 THEN CAST(floor(pow(2, i)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
        FROM hs ORDER BY doc_id""")),

    // ── SimHash NEAR-DUP pairs — the follow-on q36's fingerprints exist
    //    for: band the 32-bit simhash into 4 bytes (Hamming distance ≤ 6
    //    over 32 bits guarantees ≥1 identical byte... pigeonhole needs
    //    d < 4 for certainty, so bands are a RECALL heuristic exactly as
    //    in production simhash dedup), bucket-join on any shared byte
    //    band, verify candidates with codegen'd bit_count(xor); d ≤ 2
    //    because 32-bit fingerprints over short docs saturate fast ──
    Q("q70_simhash_neardup",
      (s, d) => {
        val hs = t(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("x"))
          .select(col("doc_id"), md5Int("sh:", col("x")).as("h"))
        val bitAggs = (0 until 32).map(i =>
          sum(when(shiftright(col("h"), i) % 2 === 1, 1L).otherwise(-1L)).as(s"b$i"))
        val sim = hs.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
          .select(col("doc_id"),
            (0 until 32).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L))
              .reduce(_ + _).as("simhash"))
        val banded = Caches.cached(sim.select(col("doc_id"), col("simhash"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              shiftright(col("simhash"), 8 * b).bitwiseAND(255).as("byte"))): _*)).as("x"))
          .select(col("doc_id"), col("simhash"), col("x.band").as("band"), col("x.byte").as("byte")))
        val l = banded.select(col("doc_id").as("d1"), col("band"), col("byte"), col("simhash").as("s1"))
        val r = banded.select(col("doc_id").as("d2"), col("band"), col("byte"), col("simhash").as("s2"))
        l.join(r, Seq("band", "byte")).filter(col("d1") < col("d2"))
          // hamming BEFORE the dedup: the filter kills ~95% of candidates
          // map-side, so the distinct shuffles survivors only (hamming is a
          // function of the pair, so the dedup keeps identical values)
          .select(col("d1"), col("d2"),
            bit_count(col("s1").bitwiseXOR(col("s2"))).cast("int").as("hamming"))
          .filter(col("hamming") <= 2)
          .dropDuplicates("d1", "d2")
          .orderBy("d1", "d2")
      },
      Some(s"""$tkCte,
        hs AS (SELECT doc_id, list_transform(t, x -> ${md5IntSql("sh:", "x")}) AS hs
               FROM tk WHERE len(t) > 0),
        sim AS (SELECT doc_id,
          CAST(list_sum(list_transform(range(0, 32), i ->
            CASE WHEN list_sum(list_transform(hs, h ->
                   CASE WHEN CAST(floor(h / pow(2, i)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END)) > 0
                 THEN CAST(floor(pow(2, i)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
          FROM hs),
        banded AS (SELECT doc_id, simhash, b AS band,
            CAST(floor(simhash / pow(256, b)) AS BIGINT) % 256 AS byte
          FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
        pairs AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
            CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.byte = r.byte AND l.doc_id < r.doc_id)
        SELECT d1, d2, hamming FROM pairs WHERE hamming <= 2 ORDER BY d1, d2""")),

    // ── The composed curation pipeline — what an LLM training-data run
    //    actually does: quality-filter → exact dedup (content hash, keep
    //    min id) → fuzzy dedup (LSH candidates est≥0.5, drop the larger
    //    id) → surviving corpus. Every stage is the scale-shaped variant
    //    demonstrated individually by q30/q33/q34. ──
    Q("q44_corpus_curation",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), col("text"), tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
        val kept1 = tk
          .withColumn("quality", qualityCol(col("t")))
          .withColumn("n_tok", size(col("t")))
          .filter(col("quality") >= 0.3)
        val wExact = Window.partitionBy("h").orderBy("doc_id")
        // kept2 feeds BOTH the LSH edge derivation and the final anti-join;
        // cached so tokenize→quality→hash→window-dedup runs once, not twice
        val kept2 = Caches.cached(kept1.withColumn("h", md5(col("text").cast("binary")))
          .withColumn("__rn", row_number().over(wExact))
          .filter(col("__rn") === 1).drop("__rn"))
        val drops = lshPairs(kept2.select(col("doc_id"), col("t")))
          .filter(col("est_sim") >= 0.5)
          .select(col("d2").as("doc_id")).distinct()
        kept2.join(drops, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_tok"), col("quality"))
          .orderBy("doc_id")
      },
      Some(s"""$tkCte,
        tkf AS (SELECT doc_id, text, t FROM tk WHERE len(t) > 0),
        kept1 AS (SELECT doc_id, text, t,
            ${qualitySql("t")} AS quality,
            CAST(len(t) AS INTEGER) AS n_tok
          FROM tkf
          WHERE ${qualitySql("t")} >= 0.3),
        kept2 AS (SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM kept1) WHERE rn = 1),
        shc AS (SELECT doc_id, $shSql AS sh FROM kept2),
        shf2 AS (SELECT doc_id, sh FROM shc WHERE len(sh) > 0),
        ${lshPairsSql("shf2", "c")},
        drops AS (SELECT DISTINCT d2 AS doc_id FROM pairs_c WHERE est_sim >= 0.5)
        SELECT doc_id, n_tok, quality FROM kept2
        WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        ORDER BY doc_id""")),

    // ── Dedup CLUSTERS: transitive closure of the LSH near-dup pairs via
    //    distributed min-label propagation (graft.ops.Components) — the
    //    step after pair detection that picks one keeper per cluster.
    //    Oracle: recursive-CTE reachability in DuckDB. ──
    Q("q54_dedup_clusters",
      (s, d) => {
        val edges = lshPairs(
          t(s, d, "documents")
            .select(col("doc_id"), tokens(col("text")).as("t")))
          .filter(col("est_sim") >= 0.5)
          .select("d1", "d2")
        graft.ops.Components.connectedComponents(edges, "d1", "d2")
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE tk AS (SELECT doc_id, $toksSql AS t FROM documents),
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "g")},
        edges AS (SELECT d1, d2 FROM pairs_g WHERE est_sim >= 0.5),
        e2 AS (SELECT d1 AS a, d2 AS b FROM edges UNION ALL SELECT d2, d1 FROM edges),
        nodes AS (SELECT DISTINCT a AS id FROM e2),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e2.a, reach.r FROM e2 JOIN reach ON e2.b = reach.id)
        SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id ORDER BY doc_id""")),

    // ── Transitive (cluster-correct) curation: like q44 but near-dup
    //    removal collapses whole connected components to their min-id
    //    keeper — pairwise dropping (q44) can leave A–B–C chains where B
    //    drops but A and C survive as near-dups of each other ──
    Q("q57_cluster_curation",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), col("text"), tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
        val kept1 = tk
          .withColumn("quality", qualityCol(col("t")))
          .withColumn("n_tok", size(col("t")))
          .filter(col("quality") >= 0.3)
        val wExact = Window.partitionBy("h").orderBy("doc_id")
        // same two-consumer shape as q44: cache kept2 once
        val kept2 = Caches.cached(kept1.withColumn("h", md5(col("text").cast("binary")))
          .withColumn("__rn", row_number().over(wExact))
          .filter(col("__rn") === 1).drop("__rn"))
        val edges = lshPairs(kept2.select(col("doc_id"), col("t")))
          .filter(col("est_sim") >= 0.5)
          .select("d1", "d2")
        val drops = graft.ops.Components.connectedComponents(edges, "d1", "d2")
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id"))
        kept2.join(drops, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_tok"), col("quality"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE tk AS (SELECT doc_id, text, $toksSql AS t FROM documents),
        tkf AS (SELECT doc_id, text, t FROM tk WHERE len(t) > 0),
        kept1 AS (SELECT doc_id, text, t,
            ${qualitySql("t")} AS quality,
            CAST(len(t) AS INTEGER) AS n_tok
          FROM tkf
          WHERE ${qualitySql("t")} >= 0.3),
        kept2 AS (SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM kept1) WHERE rn = 1),
        shc AS (SELECT doc_id, $shSql AS sh FROM kept2),
        shf2 AS (SELECT doc_id, sh FROM shc WHERE len(sh) > 0),
        ${lshPairsSql("shf2", "t")},
        edges AS (SELECT d1, d2 FROM pairs_t WHERE est_sim >= 0.5),
        e2 AS (SELECT d1 AS a, d2 AS b FROM edges UNION ALL SELECT d2, d1 FROM edges),
        nodes AS (SELECT DISTINCT a AS id FROM e2),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e2.a, reach.r FROM e2 JOIN reach ON e2.b = reach.id),
        comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
        drops AS (SELECT id AS doc_id FROM comp WHERE id <> cluster)
        SELECT doc_id, n_tok, quality FROM kept2
        WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        ORDER BY doc_id""")),

    // ── Exact edit-distance verification of LSH candidates — the standard
    //    two-stage near-dup pipeline: cheap signatures generate candidates,
    //    exact levenshtein confirms. Distance is computed for candidate
    //    pairs ONLY, never all-pairs ──
    Q("q59_edit_distance",
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val cands = lshPairs(
          docs.select(col("doc_id"), tokens(col("text")).as("t")))
          .filter(col("est_sim") >= 0.5)
        cands
          .join(docs.select(col("doc_id").as("d1"), col("text").as("t1")), Seq("d1"))
          .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")), Seq("d2"))
          // two projections: CollapseProject won't inline a non-cheap alias
          // used twice, so levenshtein runs ONCE per pair
          .select(col("d1"), col("d2"),
            levenshtein(col("t1"), col("t2")).as("lev"),
            greatest(length(col("t1")), length(col("t2"))).as("mx"))
          .select(col("d1"), col("d2"), col("lev"),
            (lit(1.0) - col("lev").cast("double") / col("mx")).as("sim"))
          .orderBy("d1", "d2")
      },
      Some(s"""$tkCte,
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "v")},
        cands AS (SELECT d1, d2 FROM pairs_v WHERE est_sim >= 0.5)
        SELECT c.d1, c.d2,
          levenshtein(a.text, b.text) AS lev,
          1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
              / greatest(len(a.text), len(b.text)) AS sim
        FROM cands c JOIN documents a ON a.doc_id = c.d1
        JOIN documents b ON b.doc_id = c.d2
        ORDER BY d1, d2""")),

    // ── Contamination check (train/test overlap): near-dup pairs that
    //    CROSS corpus boundaries — even-suffixed sources stand in for the
    //    benchmark corpus, odd for training. Reuses the banded-LSH
    //    candidate machinery (one signature pass over the union, bucket
    //    self-join), then keeps only cross-corpus collisions: the standard
    //    decontamination sweep an LLM data pipeline runs before training ──
    Q("q69_contamination",
      (s, d) => {
        val docs = t(s, d, "documents")
        def bench(src: Column) = substring(src, 4, 10).cast("int") % 2 === 0
        val srcOf = docs.select(col("doc_id"), col("source"))
        val cands = lshPairs(docs.select(col("doc_id"), tokens(col("text")).as("t")))
          .filter(col("est_sim") >= 0.5)
        cands
          .join(srcOf.select(col("doc_id").as("d1"), col("source").as("src1")), Seq("d1"))
          .join(srcOf.select(col("doc_id").as("d2"), col("source").as("src2")), Seq("d2"))
          .filter(bench(col("src1")) =!= bench(col("src2")))
          .select(col("d1"), col("d2"), col("src1"), col("src2"), col("est_sim"))
          .orderBy("d1", "d2")
      },
      Some(s"""$tkCte,
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "x")}
        SELECT p.d1, p.d2, a.source AS src1, b.source AS src2, p.est_sim
        FROM pairs_x p
        JOIN documents a ON a.doc_id = p.d1
        JOIN documents b ON b.doc_id = p.d2
        WHERE p.est_sim >= 0.5
          AND ((CAST(substr(a.source, 4) AS INTEGER) % 2 = 0)
               <> (CAST(substr(b.source, 4) AS INTEGER) % 2 = 0))
        ORDER BY d1, d2""")),

    // ── TF-IDF-style term salience: score = tf · N / df (a rational
    //    surrogate for tf·idf — log() is libm-dependent and would break
    //    bit-parity with the oracle), top-3 terms per doc ──
    Q("q47_tfidf",
      (s, d) => {
        val ex = t(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        val tf = ex.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val ndocs = ex.select(countDistinct("doc_id").as("n"))
        val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
        tf.join(dfreq, Seq("token")).crossJoin(ndocs)
          .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select("doc_id", "token", "tf", "score", "rnk")
          .orderBy("doc_id", "rnk")
      },
      Some(s"""$tkCte,
        ex AS (SELECT doc_id, unnest(t) AS token FROM tk),
        tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM ex GROUP BY 1, 2),
        dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM ex),
        sc AS (SELECT doc_id, token, tf, CAST(tf * n AS DOUBLE) / df AS score
               FROM tf JOIN dfq USING (token) CROSS JOIN nd),
        r AS (SELECT doc_id, token, tf, score,
              row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk FROM sc)
        SELECT doc_id, token, tf, score, rnk FROM r WHERE rnk <= 3
        ORDER BY doc_id, rnk""")),

    // ── Text normalization (the cleanup stage before tokenize/dedup):
    //    lowercase → strip non-alphanumerics → collapse runs of spaces →
    //    trim; verified via content hash + length ──
    Q("q55_text_normalize",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
            " +", " ")).as("norm"))
        .select(col("doc_id"), md5(col("norm").cast("binary")).as("h"),
          length(col("norm")).as("n_chars"))
        .orderBy("doc_id"),
      Some("""WITH n AS (SELECT doc_id,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        FROM documents)
        SELECT doc_id, md5(norm) AS h, CAST(len(norm) AS INTEGER) AS n_chars
        FROM n ORDER BY doc_id""")),

    // ── Reproducible stratified sampling (training-data mixing): per-lang
    //    keep rates decided by a salted hash of the doc id — the same doc
    //    is kept on every run, on every engine, at any parallelism ──
    Q("q56_stratified_sample",
      (s, d) => {
        val rate = when(col("lang") === "en", 80)
          .when(col("lang") === "de", 50)
          .when(col("lang") === "fr", 50)
          .otherwise(25)
        val kept = md5Int("samp:", col("doc_id").cast("string")) % 100 < rate
        t(s, d, "documents")
          .select(col("lang"), col("doc_id"), kept.as("keep"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))
          .orderBy("lang")
      },
      Some(s"""WITH k AS (SELECT lang, doc_id,
          ${md5IntSql("samp:", "CAST(doc_id AS VARCHAR)")} % 100 <
            (CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 50 WHEN 'fr' THEN 50 ELSE 25 END) AS keep
        FROM documents)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
          CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
        FROM k GROUP BY lang ORDER BY lang""")),

    // ── Shard packing (training-data serialization prep): assign each doc
    //    to a ~2000-token shard by running token-count within its SOURCE
    //    stream. The running count is a TWO-LEVEL prefix sum
    //    ([[Exprs.bucketedCumsum]]): the doc_id range — taken from a 1-row
    //    broadcast min/max frame so the bucket count stays 32 at ANY scale
    //    — is cut into 32 contiguous slices, the wide window sorts only
    //    within (source, slice), and slice subtotals are broadcast back.
    //    A plain per-source window would put an entire source's stream on
    //    one task at 100 TB; shard ids are unchanged (source, k) pairs ──
    Q("q72_shard_pack",
      (s, d) => {
        val target = 2000L
        val nb = 32L
        val tk = t(s, d, "documents")
          .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
        val bounds = tk.groupBy()
          .agg(min("doc_id").as("__lo"), max("doc_id").as("__hi"))
        // contiguous doc_id slices are monotone in the doc_id ordering,
        // as bucketedCumsum requires. Integer DIV with the width computed
        // FIRST: long-column `/` routes through double (silent precision
        // loss past 2^53) and multiplying the offset by 32 before
        // dividing overflows snowflake-style 63-bit ids — both are
        // invisible at test SF and fatal at real id ranges
        val bucket = expr(
          s"(doc_id - __lo) div ((__hi - __lo) div $nb + 1)")
        bucketedCumsum(tk.crossJoin(broadcast(bounds)), "source", bucket,
            Seq(col("doc_id")), "n_tok", "cum")
          .select(col("doc_id"), col("source"), col("n_tok"),
            ((col("cum") - col("n_tok")) / target).cast("long").as("shard"))
          .groupBy("source", "shard")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_total"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("source", "shard")
      },
      Some(s"""$tkCte,
        n AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tok FROM tk),
        c AS (SELECT doc_id, source, n_tok,
            SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM n),
        sh AS (SELECT doc_id, source, n_tok,
            CAST(floor(CAST(cum - n_tok AS DOUBLE) / 2000) AS BIGINT) AS shard FROM c)
        SELECT source, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS tok_total,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM sh GROUP BY 1, 2 ORDER BY source, shard""")),

    // ── Exact 13-gram decontamination sweep: the industry-standard exact
    //    complement to q69's fuzzy LSH sweep — a benchmark doc is
    //    contaminated when any of its 13-token shingles appears verbatim in
    //    the training corpus. Grams travel as 32-bit md5 ints, not strings
    //    (the shuffle carries 8 bytes per gram, not ~90); per-doc gram sets
    //    are deduped BEFORE the cross-corpus join so a gram repeated inside
    //    one doc costs one row. At 100 TB the join key is the gram hash —
    //    uniform by construction; a corpus with pathological boilerplate
    //    grams (one gram in millions of docs) would additionally want
    //    q35's df-cap on the train side, a one-line groupBy filter NOT
    //    applied here because it changes which matches are reported ──
    Q("q91_ngram_contamination",
      (s, d) => {
        def isBench(src: Column) = substring(src, 4, 10).cast("int") % 2 === 0
        // 13-grams via codegen'd posexplode + 12 window leads (q34's
        // shingle shape, generalized) — the interpreted element_at-chain
        // array HOF was 35 s at sf0.1 vs ~1 s for this; ok gates on the
        // LAST lead only (leads are monotone-null toward the tail)
        val w = Window.partitionBy("doc_id").orderBy("i")
        val leads = (1 until 13).map(k => lead("tok", k).over(w))
        val grams = t(s, d, "documents")
          .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
          .select(col("doc_id"), col("source"), posexplode(col("t")).as(Seq("i", "tok")))
          .select(col("doc_id"), col("source"),
            concat_ws(" ", col("tok") +: leads: _*).as("g"),
            leads.last.isNotNull.as("ok"))
          .filter(col("ok"))
          .select(col("doc_id"), col("source"), md5Int("xg:", col("g")).as("h"))
        val bench = grams.filter(isBench(col("source")))
          .select(col("doc_id").as("bench_id"), col("h"))
          .dropDuplicates("bench_id", "h")
        val train = grams.filter(!isBench(col("source")))
          .select(col("doc_id").as("train_id"), col("h"))
          .dropDuplicates("train_id", "h")
        bench.join(train, Seq("h"))
          .groupBy("bench_id")
          .agg(countDistinct(col("h")).as("n_hit_grams"),
            countDistinct(col("train_id")).as("n_train_docs"))
          .orderBy("bench_id")
      },
      Some(s"""$tkCte,
        g AS (SELECT doc_id, source, unnest(CASE WHEN len(t) >= 13
                THEN list_transform(range(1, len(t) - 11), i -> array_to_string(t[i:i+12], ' '))
                ELSE [] END) AS gtxt FROM tk),
        h AS (SELECT DISTINCT doc_id, source, ${md5IntSql("xg:", "gtxt")} AS h FROM g),
        b AS (SELECT doc_id AS bench_id, h FROM h WHERE CAST(substr(source, 4) AS INTEGER) % 2 = 0),
        tr AS (SELECT doc_id AS train_id, h FROM h WHERE CAST(substr(source, 4) AS INTEGER) % 2 = 1)
        SELECT bench_id, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_hit_grams,
               CAST(COUNT(DISTINCT train_id) AS BIGINT) AS n_train_docs
        FROM b JOIN tr USING (h) GROUP BY bench_id ORDER BY bench_id""")),

    // ── Repetition-based quality signals (Gopher-style, Rae et al. 2021):
    //    per doc, the occurrence share of the single most common 2-gram
    //    and 3-gram plus the share held by any REPEATED n-gram, and a
    //    keep/drop gate over them. Each signal is explode → (doc, gram)
    //    count → per-doc ratio: two narrow shuffles per n, never a
    //    self-join, so the cost is O(tokens) however large the corpus ──
    Q("q92_repetition_quality",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 3)
        def fracs(n: Int, top: String, dup: String) =
          tk.select(col("doc_id"), explode(shingles(col("t"), n)).as("g"))
            .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
            .groupBy("doc_id")
            .agg(
              (max("c").cast("double") / sum("c").cast("double")).as(top),
              (sum(when(col("c") > 1, col("c")).otherwise(0)).cast("double")
                / sum("c").cast("double")).as(dup))
        fracs(2, "top2_frac", "dup2_frac")
          .join(fracs(3, "top3_frac", "dup3_frac"), Seq("doc_id"))
          .select(col("doc_id"), col("top2_frac"), col("dup2_frac"),
            col("top3_frac"), col("dup3_frac"),
            (col("top2_frac") <= 0.08 && col("dup3_frac") <= 0.20).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""$tkCte,
        tk3 AS (SELECT doc_id, t FROM tk WHERE len(t) >= 3),
        g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g FROM tk3),
        c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        f2 AS (SELECT doc_id,
                 CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top2_frac,
                 CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup2_frac
               FROM c2 GROUP BY 1),
        g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g FROM tk3),
        c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
        f3 AS (SELECT doc_id,
                 CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top3_frac,
                 CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup3_frac
               FROM c3 GROUP BY 1)
        SELECT f2.doc_id, top2_frac, dup2_frac, top3_frac, dup3_frac,
               (top2_frac <= 0.08 AND dup3_frac <= 0.20) AS keep
        FROM f2 JOIN f3 USING (doc_id) ORDER BY doc_id""")),

    // ── Vocabulary coverage / OOV rate: build the top-N corpus vocabulary
    //    (total-ordered: frequency desc, token asc) and measure each doc's
    //    out-of-vocabulary token share — the coverage measurement behind
    //    tokenizer/vocab-size decisions. The vocab is broadcast (bounded
    //    by N however big the corpus); the cost is one token-frequency
    //    shuffle + one per-doc aggregate ──
    Q("q93_oov_rate",
      (s, d) => {
        val ex = t(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        val vocab = ex.groupBy("token").agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("token")).limit(15)
          .select(col("token"), lit(1).as("__in"))
        ex.join(broadcast(vocab), Seq("token"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_tok"), col("n_oov"),
            (col("n_oov").cast("double") / col("n_tok").cast("double")).as("oov_rate"))
          .orderBy("doc_id")
      },
      Some(s"""$tkCte,
        ex AS (SELECT doc_id, unnest(t) AS token FROM tk),
        v AS (SELECT token FROM (SELECT token, COUNT(*) AS tf FROM ex GROUP BY 1)
              ORDER BY tf DESC, token LIMIT 15),
        j AS (SELECT e.doc_id, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
              FROM ex e LEFT JOIN v ON e.token = v.token)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(SUM(oov) AS BIGINT) AS n_oov,
               CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
        FROM j GROUP BY doc_id ORDER BY doc_id""")),

    // ── Cross-document chunk duplication (MassiveText's duplicate-
    //    paragraph-fraction rule, at fixed 20-token chunks since the corpus
    //    has no paragraph marks): a doc whose chunks largely appear in
    //    OTHER docs is boilerplate/template content that whole-doc dedup
    //    (q33) and within-doc repetition (q92) both miss. Chunks hash to
    //    32-bit ints; the duplicate test is one groupBy over chunk hashes
    //    (df = distinct docs per chunk) joined back — no self-join, cost
    //    O(chunks) ──
    Q("q102_chunk_dedup",
      (s, d) => {
        val C = 20
        val chunks = Caches.cached(t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
          .select(col("doc_id"), explode(
            transform(expr(s"sequence(0, (size(t) - 1) div $C)"),
              c => concat_ws(" ", slice(col("t"), c * C + 1, lit(C))))).as("chunk"))
          .select(col("doc_id"), md5Int("ck:", col("chunk")).as("h")))
        val dfh = chunks.groupBy("h").agg(countDistinct("doc_id").as("nd"))
        chunks.join(dfh, Seq("h"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
          .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
            (col("n_dup_chunks").cast("double") / col("n_chunks").cast("double")).as("dup_frac"))
          .withColumn("keep", col("dup_frac") <= 0.5)
          .orderBy("doc_id")
      },
      Some(s"""$tkCte,
        ck AS (SELECT doc_id, unnest(list_transform(range(0, (len(t) + 19) // 20),
                 c -> array_to_string(t[c*20+1:c*20+20], ' '))) AS chunk
               FROM tk WHERE len(t) > 0),
        h AS (SELECT doc_id, ${md5IntSql("ck:", "chunk")} AS h FROM ck),
        dfh AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM h GROUP BY 1)
        SELECT h.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_frac,
               (CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) <= 0.5 AS keep
        FROM h JOIN dfh USING (h) GROUP BY h.doc_id ORDER BY doc_id""")),

    // ── Exact-k reservoir sample per stratum: salted-hash order makes the
    //    "random" choice deterministic and engine-invariant (q56's trick),
    //    and the typed TopK aggregator keeps it one partial-aggregating
    //    shuffle — k rows per (stratum × partition) move, never the
    //    stratum's full population through a window sort (the 100 TB
    //    difference vs row_number-over-hash) ──
    Q("q103_reservoir_sample",
      (s, d) => {
        val topk = udaf(new TopK.TopKAgg(3))
        t(s, d, "documents")
          .select(col("lang"), col("doc_id"),
            md5Int("rs:", col("doc_id").cast("string")).as("h"))
          .groupBy("lang")
          .agg(topk(col("doc_id"), -col("h").cast("double")).as("top"))
          .select(col("lang"), posexplode(col("top")))
          .select(col("lang"), col("col.id").as("doc_id"), (col("pos") + 1).as("rk"))
          .orderBy("lang", "rk")
      },
      Some(s"""WITH h AS (SELECT lang, doc_id,
            ${md5IntSql("rs:", "CAST(doc_id AS VARCHAR)")} AS h FROM documents),
        r AS (SELECT lang, doc_id,
            row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk FROM h)
        SELECT lang, doc_id, rk FROM r WHERE rk <= 3 ORDER BY lang, rk""")),

    // ── THE full training-data pipeline, end to end: quality gate →
    //    repetition gate → exact dedup → LSH near-dup component collapse →
    //    decontamination against the benchmark corpus → shard packing.
    //    Every stage is one of this library's audited operators composing
    //    on its documented scale shape; the output is the final artifact a
    //    data pipeline ships (the shard manifest). One oracle hash checks
    //    the whole chain ──
    Q("q108_training_pipeline",
      (s, d) => {
        def isBench(src: Column) = substring(src, 4, 10).cast("int") % 2 === 0
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"), tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
        val train = docs.filter(!isBench(col("source")))
        val bench = docs.filter(isBench(col("source")))
        // 1: quality gate (q30's score)
        val q1 = train.withColumn("quality", qualityCol(col("t")))
          .filter(col("quality") >= 0.3)
        // 2: repetition gate (q92's top-2-gram share)
        val top2 = q1.select(col("doc_id"), explode(shingles(col("t"), 2)).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg((max("c").cast("double") / sum("c").cast("double")).as("top2_frac"))
        val q2 = q1.join(top2, Seq("doc_id")).filter(col("top2_frac") <= 0.08)
        // 3: exact dedup, min-id keeper (q33's shape)
        val wE = Window.partitionBy("h").orderBy("doc_id")
        val q3 = Caches.cached(q2
          .withColumn("h", md5(col("text").cast("binary")))
          .withColumn("__rn", row_number().over(wE))
          .filter(col("__rn") === 1).drop("__rn", "h"))
        // 4: LSH near-dup components collapse (q57's shape)
        val edges = lshPairs(q3.select(col("doc_id"), col("t")))
          .filter(col("est_sim") >= 0.5).select("d1", "d2")
        val drops = graft.ops.Components.connectedComponents(edges, "d1", "d2")
          .filter(col("id") =!= col("cluster")).select(col("id").as("doc_id"))
        val q4 = Caches.cached(q3.join(drops, Seq("doc_id"), "left_anti"))
        // 5: decontamination — drop surviving train docs near-dup to ANY
        //    benchmark doc (q69's cross-corpus sweep over the union)
        val pairs = lshPairs(q4.select(col("doc_id"), col("t"))
            .unionByName(bench.select(col("doc_id"), col("t"))))
          .filter(col("est_sim") >= 0.5)
        val benchIds = bench.select(col("doc_id").as("bid"))
        val contam = pairs.join(benchIds, col("d1") === col("bid")).select(col("d2").as("doc_id"))
          .union(pairs.join(benchIds, col("d2") === col("bid")).select(col("d1").as("doc_id")))
          .distinct()
        val q5 = q4.join(contam, Seq("doc_id"), "left_anti")
        // 6: shard packing of the survivors (q72's manifest shape)
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        q5.select(col("doc_id"), col("source"), size(col("t")).cast("long").as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .select(col("doc_id"), col("source"), col("n_tok"),
            ((col("cum") - col("n_tok")) / 2000L).cast("long").as("shard"))
          .groupBy("source", "shard")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_total"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("source", "shard")
      },
      Some(s"""WITH RECURSIVE tk AS (SELECT doc_id, source, text, $toksSql AS t FROM documents),
        tkf AS (SELECT * FROM tk WHERE len(t) >= 2),
        train AS (SELECT * FROM tkf WHERE CAST(substr(source, 4) AS INTEGER) % 2 = 1),
        bench AS (SELECT doc_id, t FROM tkf WHERE CAST(substr(source, 4) AS INTEGER) % 2 = 0),
        q1 AS (SELECT * FROM train WHERE ${qualitySql("t")} >= 0.3),
        g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g FROM q1),
        c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        f2 AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top2_frac FROM c2 GROUP BY 1),
        q2 AS (SELECT q1.* FROM q1 JOIN f2 USING (doc_id) WHERE top2_frac <= 0.08),
        q3 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q2) WHERE rn = 1),
        sh3 AS (SELECT doc_id, $shSql AS sh FROM q3),
        shf3 AS (SELECT doc_id, sh FROM sh3 WHERE len(sh) > 0),
        ${lshPairsSql("shf3", "p")},
        edges AS (SELECT d1, d2 FROM pairs_p WHERE est_sim >= 0.5),
        e2 AS (SELECT d1 AS a, d2 AS b FROM edges UNION ALL SELECT d2, d1 FROM edges),
        nodes AS (SELECT DISTINCT a AS id FROM e2),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e2.a, reach.r FROM e2 JOIN reach ON e2.b = reach.id),
        comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
        drops AS (SELECT id AS doc_id FROM comp WHERE id <> cluster),
        q4 AS (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
        un AS (SELECT doc_id, t FROM q4 UNION ALL SELECT doc_id, t FROM bench),
        shu AS (SELECT doc_id, $shSql AS sh FROM un),
        shfu AS (SELECT doc_id, sh FROM shu WHERE len(sh) > 0),
        ${lshPairsSql("shfu", "u")},
        cp AS (SELECT d1, d2 FROM pairs_u WHERE est_sim >= 0.5),
        cont AS (SELECT p.d2 AS doc_id FROM cp p JOIN bench b ON p.d1 = b.doc_id
                 UNION SELECT p.d1 FROM cp p JOIN bench b ON p.d2 = b.doc_id),
        q5 AS (SELECT * FROM q4 WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        n AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tok FROM q5),
        cms AS (SELECT doc_id, source, n_tok,
            SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM n),
        shards AS (SELECT doc_id, source, n_tok,
            CAST(floor(CAST(cum - n_tok AS DOUBLE) / 2000) AS BIGINT) AS shard FROM cms)
        SELECT source, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS tok_total,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM shards GROUP BY 1, 2 ORDER BY source, shard""")),

    // ── Exact repeated-substring coverage (the Lee et al. 2021 measure
    //    behind exact-substring dedup): a token position is covered when
    //    any 13-gram through it occurs ≥2 times ANYWHERE in the corpus
    //    (within- or cross-document). Per doc: covered-position count and
    //    fraction — the signal that drives span-removal dedup. Positions
    //    ride the codegen'd gram build; the only shuffles are the global
    //    gram-frequency groupBy and the per-doc coverage count; span
    //    expansion explodes 13 offsets ONLY for duplicated grams. The
    //    duplicate key is the FULL md5 (collision odds 2^-128) — a 32-bit
    //    hash would falsely mark ~n²/2^33 unique gram pairs as duplicated,
    //    and this measure's whole point is exactness ──
    Q("q110_substring_coverage",
      (s, d) => {
        val L = 13
        val w = Window.partitionBy("doc_id").orderBy("i")
        val leads = (1 until L).map(k => lead("tok", k).over(w))
        val tk = Caches.cached(t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0))
        val nTok = tk.select(col("doc_id"), size(col("t")).as("n_tok"))
        val grams = Caches.cached(tk
          .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "tok")))
          .select(col("doc_id"), col("i"),
            concat_ws(" ", col("tok") +: leads: _*).as("g"),
            leads.last.isNotNull.as("ok"))
          .filter(col("ok"))
          .select(col("doc_id"), col("i"),
            md5(concat(lit("sg:"), col("g")).cast("binary")).as("h")))
        val dup = grams.groupBy("h").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).select("h")
        val covered = grams.join(dup, Seq("h"))
          .select(col("doc_id"),
            explode(sequence(col("i"), col("i") + (L - 1))).as("p"))
          .groupBy("doc_id").agg(countDistinct(col("p")).as("n_covered"))
        nTok.join(covered, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tok"),
            coalesce(col("n_covered"), lit(0L)).as("n_covered"),
            (coalesce(col("n_covered"), lit(0L)).cast("double")
              / col("n_tok").cast("double")).as("cov_frac"))
          .orderBy("doc_id")
      },
      Some(s"""$tkCte,
        tkf AS (SELECT doc_id, t FROM tk WHERE len(t) > 0),
        n AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tok FROM tkf),
        g0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 11),
                 i -> {'i': i - 1, 'h': md5('sg:' || array_to_string(t[i:i+12], ' '))})) AS s
               FROM tkf WHERE len(t) >= 13),
        g AS (SELECT doc_id, s.i AS i, s.h AS h FROM g0),
        dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1),
        covx AS (SELECT doc_id, unnest(range(i, i + 13)) AS p FROM g JOIN dup USING (h)),
        cov AS (SELECT doc_id, COUNT(DISTINCT p) AS n_covered FROM covx GROUP BY 1)
        SELECT n.doc_id, n.n_tok,
          CAST(COALESCE(cov.n_covered, 0) AS BIGINT) AS n_covered,
          CAST(COALESCE(cov.n_covered, 0) AS DOUBLE) / CAST(n.n_tok AS DOUBLE) AS cov_frac
        FROM n LEFT JOIN cov USING (doc_id) ORDER BY doc_id""")),

    // ── Bigram language-model statistics: for every frequent context
    //    token, the top-3 continuations with conditional probability —
    //    KenLM-style n-gram stats, the basis of LM-based quality filters.
    //    One narrow lead pass builds bigrams; two partial-aggregating
    //    groupBys count contexts and continuations; the rank window runs
    //    per context over ≤|vocab| rows ──
    Q("q111_bigram_lm",
      (s, d) => {
        val w = Window.partitionBy("doc_id").orderBy("i")
        val pairs = t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "w1")))
          .select(col("w1"), lead("w1", 1).over(w).as("w2"))
          .filter(col("w2").isNotNull)
        val c1 = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
        val c2 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        val wR = Window.partitionBy("w1").orderBy(col("c2").desc, col("w2"))
        c2.join(c1, Seq("w1")).filter(col("c1") >= 100)
          .withColumn("rnk", row_number().over(wR)).filter(col("rnk") <= 3)
          .select(col("w1"), col("w2"), col("c2"),
            (col("c2").cast("double") / col("c1").cast("double")).as("p"), col("rnk"))
          .orderBy("w1", "rnk")
      },
      Some(s"""$tkCte,
        tkf AS (SELECT doc_id, t FROM tk WHERE len(t) >= 2),
        pairs AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                    i -> {'w1': t[i], 'w2': t[i+1]})) AS b FROM tkf),
        p2 AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM pairs),
        c1 AS (SELECT w1, COUNT(*) AS c1 FROM p2 GROUP BY 1),
        c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM p2 GROUP BY 1, 2),
        r AS (SELECT c2.w1, c2.w2, c2.c2, c1.c1,
                row_number() OVER (PARTITION BY c2.w1 ORDER BY c2.c2 DESC, c2.w2) AS rnk
              FROM c2 JOIN c1 USING (w1) WHERE c1.c1 >= 100)
        SELECT w1, w2, CAST(c2 AS BIGINT) AS c2,
               CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p, rnk
        FROM r WHERE rnk <= 3 ORDER BY w1, rnk""")),

    // ── Feature-hashing vectorization + sparse similarity: each doc
    //    becomes a D-bucket hashed bag-of-words (the hashing-trick
    //    vectorizer — no vocabulary to learn or broadcast), and doc-to-doc
    //    cosine runs as a SPARSE dot product through a dimension-bucket
    //    join — the inverted-index formulation, so cost tracks nonzero
    //    entries, never materialized dense vectors. Counts are exact ints;
    //    cosine is one double division per pair ──
    // ── Feature hashing at two dimensionalities: D=16 (the readable demo,
    //    where every doc holds every dim — the join keys are 16 hot
    //    buckets) and D=2^18 (the production shape: token→dim collisions
    //    become rare, each doc's vector is as sparse as its vocabulary,
    //    and the dim-bucket join fans each probe dim out to FEW docs
    //    instead of all of them). Same plan, same oracle, different D —
    //    demonstrating the shape actually scales instead of asserting it ──
    featureHashing("q112_feature_hashing", 16),
    featureHashing("q115_feature_hashing_wide", 1 << 18),

    // ── Positional rolling-hash fingerprint: polynomial over the first 12
    //    token hashes, base 31 mod 2^31-1 (order-sensitive, unlike minhash) ──
    Q("q37_rolling_fingerprint",
      (s, d) => {
        val powArr = array(pows.map(lit): _*)
        t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
          // slice BEFORE hashing: the fingerprint only consumes the first
          // 12 tokens, so hashing the full document is pure waste
          .select(col("doc_id"), size(col("t")).as("n_tok"),
            transform(slice(col("t"), 1, 12), x => md5Int("rf:", x)).as("th"))
          .select(col("doc_id"), col("n_tok"),
            (aggregate(sequence(lit(1), least(col("n_tok"), lit(12))), lit(0L),
              (acc, i) => acc + (element_at(col("th"), i) % M) * element_at(powArr, i) % M)
              % M).as("fingerprint"))
          .orderBy("doc_id")
      },
      Some(s"""$tkCte,
        th AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tok,
                 list_transform(t[1:12], x -> ${md5IntSql("rf:", "x")}) AS th
               FROM tk WHERE len(t) > 0)
        SELECT doc_id, n_tok,
          CAST(list_sum(list_transform(range(1, len(th) + 1), i ->
            (th[i] % $M) * ([${pows.mkString(", ")}][i]) % $M)) AS BIGINT) % $M AS fingerprint
        FROM th ORDER BY doc_id""")
    ),

    // ── PII scrub (training-data hygiene): emails / phones / SSNs / IPs
    //    detected and redacted in one codegen'd projection — counts for
    //    the corpus audit, hash of the redacted text for the gate. The
    //    synthetic corpus carries no PII, so the query INJECTS a
    //    deterministic contact line per doc and the oracle re-derives the
    //    identical scrub in DuckDB (RE2-safe shared patterns) ──
    Q("q146_pii_scrub",
      (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"),
          concat(substring(col("text"), 1, 64),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com tel 555-867-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 7) % 256).cast("string"),
            lit(" end")).as("text"))
        scrubPii(base, "text")
          .select(col("doc_id"), col("n_email"), col("n_phone"),
            col("n_ssn"), col("n_ipv4"), md5(col("text_scrubbed")).as("h"))
          .orderBy("doc_id")
      },
      {
        val Seq(em, ph, ssn, ip) = PiiPatterns.map(_._2)
        def esc(p: String) = p.replace("'", "''")
        Some(s"""WITH injected AS (
          SELECT doc_id, substr(text, 1, 64) || ' contact user' ||
            CAST(doc_id AS VARCHAR) || '@example.com tel 555-867-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
            ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
            CAST((doc_id * 7) % 256 AS VARCHAR) || ' end' AS text
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '${esc(em)}')) AS INT) AS n_email,
          CAST(len(regexp_extract_all(text, '${esc(ph)}')) AS INT) AS n_phone,
          CAST(len(regexp_extract_all(text, '${esc(ssn)}')) AS INT) AS n_ssn,
          CAST(len(regexp_extract_all(text, '${esc(ip)}')) AS INT) AS n_ipv4,
          md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            text, '${esc(em)}', '<EMAIL>', 'g'), '${esc(ph)}', '<PHONE>', 'g'),
            '${esc(ssn)}', '<SSN>', 'g'), '${esc(ip)}', '<IP>', 'g')) AS h
        FROM injected ORDER BY doc_id""")
      }),

    // ── Sliding-window token chunks (32-token windows, 8-token overlap):
    //    every doc fans out into its windows with ONE sequence+slice
    //    projection — no shuffle, no self-join; the chunk hash is the
    //    cross-engine witness that both engines cut identical windows ──
    Q("q147_token_chunks",
      (s, d) => {
        chunkTokens(t(s, d, "documents").select(col("doc_id"), col("text")),
          "text", chunkSize = 32, overlap = 8)
          .select(col("doc_id"), col("chunk_start"), col("chunk_ntok"),
            md5(col("chunk_text")).as("h"))
          .orderBy("doc_id", "chunk_start")
      },
      Some(s"""$tkCte,
        st AS (SELECT doc_id, t,
                 unnest(range(1, len(t) + 1, 24)) AS start
               FROM tk WHERE len(t) > 0)
        SELECT doc_id, CAST(start AS INT) AS chunk_start,
          CAST(len(t[start:start+31]) AS INT) AS chunk_ntok,
          md5(array_to_string(t[start:start+31], ' ')) AS h
        FROM st WHERE start = 1 OR start + 8 <= len(t)
        ORDER BY doc_id, chunk_start"""))
  ,

    // ── Domain-mixture sampling (the training-data "data mixture" op:
    //    N% web, M% code, …): each source gets a TOKEN budget; docs are
    //    taken in salted-hash order (deterministic, unbiased by doc_id
    //    locality) until the running token count exceeds it. The running
    //    cumsum is a TWO-LEVEL prefix sum ([[Exprs.bucketedCumsum]]): the
    //    hash domain [0, 2^32) is cut into 32 contiguous ranges, the wide
    //    window sorts only within (source, range), and per-range subtotals
    //    are broadcast back — so no single task ever owns a whole source
    //    (a production mixture has ~5-20 sources; a plain per-source
    //    window would put tens of TB on one task at 100 TB). Re-running on
    //    a grown corpus keeps earlier picks stable (hash order is
    //    content-independent) ──
    Q("q148_domain_mixture",
      (s, d) => {
        val cap = when(col("source").isin("src0", "src1", "src2", "src3",
            "src4"), 3000L)
          .when(col("source").isin("src5", "src6", "src7", "src8", "src9"),
            1500L)
          .otherwise(500L)
        val tk = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast("long").as("n_tok"))
          .withColumn("__h", md5Int("mix:", col("doc_id").cast("string")))
        // bucket = top 5 bits of the 32-bit hash: contiguous hash ranges
        // are monotone in the (__h, doc_id) ordering, as bucketedCumsum
        // requires; the hash is uniform so the 32 buckets are balanced
        bucketedCumsum(tk, "source", (col("__h") / lit(1L << 27)).cast("long"),
            Seq(col("__h"), col("doc_id")), "n_tok", "cum")
          .filter(col("cum") <= cap)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_total"),
            sum(col("doc_id")).as("kept_id_sum"))
          .orderBy("source")
      },
      Some(s"""$tkCte,
        n AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tok FROM tk),
        c AS (SELECT doc_id, source, n_tok,
            SUM(n_tok) OVER (PARTITION BY source
              ORDER BY ${md5IntSql("mix:", "CAST(doc_id AS VARCHAR)")}, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM n)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS tok_total,
          CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
        FROM c
        WHERE cum <= (CASE WHEN source IN ('src0','src1','src2','src3','src4')
            THEN 3000 WHEN source IN ('src5','src6','src7','src8','src9')
            THEN 1500 ELSE 500 END)
        GROUP BY source ORDER BY source"""))
  ,

    // ── Temperature sampling (the multilingual/data-mixing flattening
    //    rule, T=2 ⇔ α=1/2): each source keeps rate (ntmin/nt_s)^(1/2),
    //    so post-sampling token mass ∝ nt_s^(1/2) — big sources
    //    down-weighted, the smallest kept whole. sqrt (not pow) keeps the
    //    rate bit-identical cross-engine: IEEE sqrt is correctly rounded
    //    in both, Math.pow is not. Shape is fully windowless — two tiny
    //    broadcast frames (per-source totals, a 1-row min) and one
    //    hash-gate filter — so unlike q148's budget walk nothing ever
    //    sorts; the keep decision is a narrow map at scan speed ──
    Q("q156_temperature_mixture",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast("long").as("n_tok"))
        val tot = tk.groupBy("source").agg(sum(col("n_tok")).as("nt"))
        val mn = tot.agg(min(col("nt")).as("ntmin"))
        // keep rate in basis points: floor(sqrt(ntmin/nt) * 10000)
        val rates = tot.crossJoin(broadcast(mn))
          .select(col("source"),
            floor(sqrt(col("ntmin").cast("double") / col("nt").cast("double"))
              * lit(10000)).cast("long").as("keep_bp"))
        tk.join(broadcast(rates), Seq("source"))
          .filter(md5Int("temp:", col("doc_id").cast("string")) % 10000 <
            col("keep_bp"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("tok_kept"),
            sum(col("doc_id")).as("kept_id_sum"))
          .orderBy("source")
      },
      Some(s"""$tkCte,
        n AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tok FROM tk),
        tot AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS nt
                FROM n GROUP BY source),
        m AS (SELECT MIN(nt) AS ntmin FROM tot),
        r AS (SELECT source, CAST(floor(sqrt(CAST(ntmin AS DOUBLE)
                / CAST(nt AS DOUBLE)) * 10000) AS BIGINT) AS keep_bp
              FROM tot, m),
        k AS (SELECT n.doc_id, n.source, n.n_tok FROM n JOIN r USING (source)
              WHERE ${md5IntSql("temp:", "CAST(doc_id AS VARCHAR)")} % 10000
                < keep_bp)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS tok_kept,
          CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
        FROM k GROUP BY source ORDER BY source""")),

    // ── MinHash signatures via the NATIVE one-pass expression
    //    (graft.expr.MinHashSig): tokens → trigram shingles → md5 → K
    //    affine minima, all inside the scan task — ZERO shuffles for the
    //    signature stage, vs the exploded path's doc_id window exchange +
    //    groupBy partial-agg exchange. Semantics are bit-identical to
    //    sigsOf (MinHashExprSpec proves it row-by-row); the oracle
    //    restates the same formula over DuckDB lists. Every signature
    //    lane is summed per source, so a drift in ANY of the K hashes
    //    breaks the hash match ──
    Q("q183_native_minhash",
      (s, d) => {
        val sig = t(s, d, "documents")
          .select(col("source"),
            call_function(graft.expr.GraftFunctions.MinHashName,
              col("text")).as("sig"))
          .filter(col("sig").isNotNull)
        val aggs = count(lit(1)).as("n_docs") +:
          (0 until K).map(j =>
            sum(element_at(col("sig"), j + 1)).as(s"s$j"))
        sig.groupBy("source").agg(aggs.head, aggs.tail: _*)
          .orderBy("source")
      },
      Some(s"""$tkCte,
        sh AS (SELECT doc_id, source, $shSql AS sh FROM tk),
        sigs AS (SELECT source, list_transform(range(0, $K), j ->
            list_min(list_transform(sh, x ->
              (${md5IntSql("mh:", "x")} * ($hashASql)[j+1]
                + ($hashBSql)[j+1]) % $P))) AS sig
          FROM sh WHERE len(sh) > 0)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          ${(0 until K).map(j =>
            s"CAST(SUM(sig[${j + 1}]) AS BIGINT) AS s$j").mkString(", ")}
        FROM sigs GROUP BY source ORDER BY source""")),

    // ── The q34 LSH dedup pipeline REBUILT on the native signature: the
    //    expression feeds bandsOf directly, so the whole signature stage
    //    runs inside the scan (zero exchanges before banding) — the
    //    exploded path's widest shuffle is gone, and the ORACLE IS
    //    IDENTICAL to q34's, proving the rewrite end-to-end at the pair
    //    level, not just per-row ──
    Q("q184_native_lsh_pairs",
      (s, d) => {
        val sigs = t(s, d, "documents")
          .select(col("doc_id"),
            call_function(graft.expr.GraftFunctions.MinHashName,
              col("text")).as("sig"))
          .filter(col("sig").isNotNull)
        val bt = bandsOf(sigs, B, K / B)
        val l = bt.select(col("doc_id").as("d1"), col("band"), col("bkey"),
          col("sig").as("sig1"))
        val r = bt.select(col("doc_id").as("d2"), col("band"), col("bkey"),
          col("sig").as("sig2"))
        l.join(r, Seq("band", "bkey"))
          .filter(col("d1") < col("d2"))
          .select("d1", "d2", "sig1", "sig2")
          .dropDuplicates("d1", "d2")
          .select(col("d1"), col("d2"),
            (aggregate(zip_with(col("sig1"), col("sig2"),
              (x, y) => when(x === y, 1).otherwise(0)), lit(0), (a, v) => a + v)
              .cast("double") / K).as("est_sim"))
          .orderBy("d1", "d2")
      },
      Some(s"""$tkCte,
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "n")}
        SELECT d1, d2, est_sim FROM pairs_n ORDER BY d1, d2""")),

    // ── C4-style duplicated-span SCRUB with document reassembly: q102
    //    only REPORTS per-doc duplicate-chunk fractions; this operator
    //    REMOVES every 20-token chunk that appears (by salted hash) in
    //    more than one document and REASSEMBLES each survivor's remaining
    //    chunks in original order — the transform a web-corpus cleaner
    //    actually applies before training. The per-source rollup carries
    //    an order-sensitive checksum of the reassembled text, so a chunk
    //    dropped, kept wrongly, or spliced out of order breaks the hash.
    //    Scale: chunk frequencies aggregate over (hash, doc) pairs — the
    //    corpus text never rides that shuffle (column pruning keeps it to
    //    8-byte hashes) — and the scrub is a LEFT ANTI against only the
    //    DUPLICATED hashes, the small side by construction (AQE
    //    broadcasts it when it fits); reassembly groups by doc_id, so no
    //    group exceeds one document ──
    Q("q189_paragraph_scrub",
      (s, d) => {
        val C = 20
        // round-robin repartition of the ONE-split documents scan (q259's
        // fix, guide §2.6): the chunk explode + per-chunk md5 below is the
        // entry's whole cost and otherwise runs on a single core (the
        // 10×-data canary ratio sat at ~1.9 with a loaded-window 7.8 s
        // spike). Result is aggregate-only downstream, so row order is
        // immaterial.
        val chunks = Caches.cached(t(s, d, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
          .select(col("doc_id"), col("source"),
            posexplode(transform(expr(s"sequence(0, (size(t) - 1) div $C)"),
              c => concat_ws(" ", slice(col("t"), c * C + 1, lit(C))))))
          .withColumnRenamed("pos", "cid")
          .withColumnRenamed("col", "chunk")
          .withColumn("h", md5Int("pp:", col("chunk"))))
        val dups = chunks.groupBy("h")
          .agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") > 1).select("h")
        chunks.join(dups, Seq("h"), "left_anti")
          .groupBy("doc_id", "source")
          .agg(array_sort(collect_list(struct(col("cid"), col("chunk"))))
            .as("cs"))
          .select(col("doc_id"), col("source"),
            concat_ws(" ", transform(col("cs"), _.getField("chunk")))
              .as("clean"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs_retained"),
            sum(size(tokens(col("clean")))).cast("long").as("tok_remaining"),
            sum(md5Int("rc:", col("clean"))).as("clean_sig"))
          .orderBy("source")
      },
      Some(s"""$tkCte,
        ck0 AS (SELECT doc_id, source,
            unnest(list_transform(range(0, (len(t) + 19) // 20),
              c -> {'cid': c,
                    'chunk': array_to_string(t[c*20+1:c*20+20], ' ')})) AS s
          FROM tk WHERE len(t) > 0),
        ck AS (SELECT doc_id, source, s.cid AS cid, s.chunk AS chunk FROM ck0),
        dfh AS (SELECT ${md5IntSql("pp:", "chunk")} AS h,
            COUNT(DISTINCT doc_id) AS nd
          FROM ck GROUP BY 1),
        kept AS (SELECT ck.doc_id, ck.source, ck.cid, ck.chunk
          FROM ck JOIN dfh ON ${md5IntSql("pp:", "chunk")} = h WHERE nd = 1),
        rec AS (SELECT doc_id, source,
            string_agg(chunk, ' ' ORDER BY cid) AS clean
          FROM kept GROUP BY 1, 2)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_retained,
          CAST(SUM(len(list_filter(regexp_split_to_array(lower(clean), '\\s+'),
            x -> x <> ''))) AS BIGINT) AS tok_remaining,
          CAST(SUM(${md5IntSql("rc:", "clean")}) AS BIGINT) AS clean_sig
        FROM rec GROUP BY source ORDER BY source""")),

    // ── PPS systematic sampling (probability proportional to size): m
    //    evenly spaced points p_j = (j+½)·W/m over the cumulative-weight
    //    axis select documents with probability ∝ n_chars — the standard
    //    way to draw a token-budgeted subcorpus without the floating-point
    //    order-dependence of Poisson/ES sampling. Every draw decision is
    //    EXACT integer arithmetic (hits = ⌈(2m·hi−W)/2W⌉ − ⌈(2m·lo−W)/2W⌉
    //    with non-negative numerators, so floor/truncate agree across
    //    engines), and Σhits = m exactly by telescoping. The cumulative
    //    axis comes from the two-level prefix sum over 32 doc_id slices —
    //    no task ever owns the whole corpus ordering. Long arithmetic
    //    holds while 2m·W < 2^63 (guarded); past that the same formulas
    //    run in DECIMAL(38,0) ──
    Q("q190_pps_sample",
      (s, d) => {
        val m = 500L
        val nb = 32L
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        val bounds = docs.groupBy()
          .agg(min("doc_id").as("__lo"), max("doc_id").as("__hi"),
            sum("n_chars").as("__w"))
        val bucket = expr(s"(doc_id - __lo) div ((__hi - __lo) div $nb + 1)")
        bucketedCumsum(
          docs.crossJoin(broadcast(bounds)).withColumn("__all", lit(1)),
          "__all", bucket, Seq(col("doc_id")), "n_chars", "hi")
          .withColumn("lo", col("hi") - col("n_chars"))
          .withColumn("__guard",
            // bound the worst numerator 2m*hi + W - 1 <= (2m+1)*W - 1:
            // the guard must divide by 2m+1, not 2m, or a W just under
            // MaxValue/(2m) passes and the numerator wraps silently
            expr(s"assert_true(__w < ${Long.MaxValue} div (2 * $m + 1), " +
              "'PPS long arithmetic overflow: rerun in DECIMAL(38,0)')"))
          .withColumn("k", greatest(
            expr(s"(2*$m*hi + __w - 1) div (2*__w) - " +
              s"(2*$m*lo + __w - 1) div (2*__w)"), lit(0L)))
          .filter(col("k") > 0 && col("__guard").isNull)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs_sampled"),
            sum("k").as("n_draws"),
            sum(col("doc_id") * col("k")).as("id_weighted_sum"))
          .orderBy("source")
      },
      Some("""WITH w AS (SELECT SUM(n_chars) AS tw FROM documents),
        c AS (SELECT doc_id, source, n_chars,
            SUM(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
          FROM documents),
        k AS (SELECT doc_id, source,
            GREATEST((2*500*hi + tw - 1) // (2*tw)
              - (2*500*(hi - n_chars) + tw - 1) // (2*tw), 0) AS k
          FROM c, w)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_sampled,
          CAST(SUM(k) AS BIGINT) AS n_draws,
          CAST(SUM(doc_id * k) AS BIGINT) AS id_weighted_sum
        FROM k WHERE k > 0 GROUP BY source ORDER BY source""")),

    // ── SymSpell fuzzy vocabulary join: all term pairs within edit
    //    distance 1, by symmetric-delete candidate generation — b is a
    //    deletion of a, a is a deletion of b (insertion), or they share a
    //    deletion (substitution; shared deletes at different positions
    //    can reach distance 2, so candidates are VERIFIED with the real
    //    levenshtein). Unlike q59's LSH route this has an EXACT recall
    //    guarantee: every distance-≤1 pair shares a variant, which the
    //    oracle proves by comparing against the naive all-pairs answer
    //    (the oracle may be quadratic; the operator may not). The
    //    entity-resolution shape: customer identifiers matched under
    //    one-character corruption. Scale: candidates equi-join on the
    //    variant string over the ENTITY VOCABULARY (≪ corpus; variants
    //    per term bounded by term length) — never all-pairs ──
    Q("q197_symspell_join",
      (s, d) => {
        val vocab = Caches.cached(t(s, d, "customer")
          .filter(col("c_custkey") < 300)
          .select(lower(col("c_name")).as("term"))
          .distinct()
          .filter(length(col("term")).between(3, 30)))
        val variants = vocab.select(col("term"), explode(concat(
            array(col("term")),
            transform(sequence(lit(1), length(col("term"))),
              i => concat(col("term").substr(lit(1), i - 1),
                col("term").substr(i + 1, length(col("term")))))))
          .as("v"))
        variants.as("a").join(variants.as("b"), Seq("v"))
          .select(col("a.term").as("t1"), col("b.term").as("t2"))
          .filter(col("t1") < col("t2"))
          .dropDuplicates("t1", "t2")
          .withColumn("lev", levenshtein(col("t1"), col("t2")))
          .filter(col("lev") <= 1)
          .orderBy("t1", "t2")
      },
      Some(s"""WITH v AS (SELECT DISTINCT lower(c_name) AS term
          FROM customer WHERE c_custkey < 300),
        vf AS (SELECT term FROM v WHERE len(term) BETWEEN 3 AND 30)
        SELECT a.term AS t1, b.term AS t2,
          CAST(levenshtein(a.term, b.term) AS INTEGER) AS lev
        FROM vf a JOIN vf b ON a.term < b.term
        WHERE levenshtein(a.term, b.term) <= 1
        ORDER BY t1, t2""")),

    // ── Split-leakage audit — the eval-hygiene check a training pipeline
    //    runs AFTER splitting: near-duplicate pairs (q34's LSH route)
    //    whose members landed in DIFFERENT splits leak training text
    //    into valid/test and inflate eval scores. Splits are q175's
    //    salted-md5 rule, recomputed here (that is the point of a
    //    derivable assignment: any stage can audit it without carrying a
    //    table). Cost = the dedup pass it piggybacks on — the pair set
    //    already exists in a pipeline that deduped; the audit itself is
    //    one projection + rollup over pairs ──
    Q("q198_split_leakage",
      (s, d) => {
        def splitOf(c: Column) = {
          val b = md5Int("split:", c.cast("string")) % 100
          when(b < 80, "train").when(b < 90, "valid").otherwise("test")
        }
        lshPairs(t(s, d, "documents")
            .select(col("doc_id"), tokens(col("text")).as("t")))
          .withColumn("s1", splitOf(col("d1")))
          .withColumn("s2", splitOf(col("d2")))
          .filter(col("s1") =!= col("s2"))
          .groupBy(least(col("s1"), col("s2")).as("sa"),
            greatest(col("s1"), col("s2")).as("sb"))
          .agg(count(lit(1)).as("n_leaky_pairs"),
            sum(col("d1") + col("d2")).as("id_sum"))
          .orderBy("sa", "sb")
      },
      Some(s"""$tkCte,
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "lk")},
        sp AS (SELECT d1, d2,
            CASE WHEN ${md5IntSql("split:", "CAST(d1 AS VARCHAR)")} % 100 < 80
                 THEN 'train'
                 WHEN ${md5IntSql("split:", "CAST(d1 AS VARCHAR)")} % 100 < 90
                 THEN 'valid' ELSE 'test' END AS s1,
            CASE WHEN ${md5IntSql("split:", "CAST(d2 AS VARCHAR)")} % 100 < 80
                 THEN 'train'
                 WHEN ${md5IntSql("split:", "CAST(d2 AS VARCHAR)")} % 100 < 90
                 THEN 'valid' ELSE 'test' END AS s2
          FROM pairs_lk)
        SELECT LEAST(s1, s2) AS sa, GREATEST(s1, s2) AS sb,
          CAST(COUNT(*) AS BIGINT) AS n_leaky_pairs,
          CAST(SUM(d1 + d2) AS BIGINT) AS id_sum
        FROM sp WHERE s1 <> s2 GROUP BY 1, 2 ORDER BY sa, sb""")),

    // ── Tokenizer induction, step one of BPE (Sennrich et al., ACL 2016):
    //    corpus-wide frequency of adjacent CHARACTER pairs inside tokens —
    //    the argmax is the first merge rule a BPE trainer would learn.
    //    Shape: a narrow explode of O(total chars) pair rows into a count
    //    over a TINY key space (the char-bigram vocab), so map-side partial
    //    aggregation collapses each task to a few hundred partial rows
    //    before the single shuffle; the top-20 carries a total tie-break
    //    (cnt DESC, pair) so the limit is deterministic ──
    Q("q200_bpe_pairs",
      (s, d) => {
        t(s, d, "documents")
          .select(explode(tokens(col("text"))).as("tok"))
          .filter(length(col("tok")) >= 2)
          .select(explode(transform(
            sequence(lit(1), length(col("tok")) - 1),
            i => col("tok").substr(i, lit(2)))).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(20)
      },
      Some(s"""$tkCte,
        toks AS (SELECT unnest(t) AS tok FROM tk),
        pairs AS (SELECT unnest(list_transform(range(1, length(tok)),
            i -> substr(tok, CAST(i AS INTEGER), 2))) AS pair
          FROM toks WHERE length(tok) >= 2)
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pairs GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""")),

    // ── Cross-source contamination overlap matrix: |shingle-set ∩| and
    //    Jaccard for every source pair — the dataset-report companion to
    //    q69/q91's doc-level decontamination. Per-source DISTINCT shingle
    //    hashes first (so each hash contributes once per source and any
    //    hash fans out to at most #sources rows — the join is skew-proof
    //    by construction), then ONE equi-join shuffle on the hash and a
    //    rollup per (sa, sb). Jaccard in exact integer ppm via BIGINT
    //    division — no cross-engine float drift ──
    Q("q202_source_overlap",
      (s, d) => {
        val sh = t(s, d, "documents")
          .select(col("source"), tokens(col("text")).as("t"))
          .select(col("source"), explode(shingles(col("t"), 3)).as("g"))
          .select(col("source"), md5Int("ov:", col("g")).as("h"))
          .dropDuplicates("source", "h")
        val tot = sh.groupBy("source").agg(count(lit(1)).as("n"))
        val inter = sh.select(col("source").as("sa"), col("h"))
          .join(sh.select(col("source").as("sb"), col("h")), Seq("h"))
          .filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(tot.select(col("source").as("sa"), col("n").as("na"))), Seq("sa"))
          .join(broadcast(tot.select(col("source").as("sb"), col("n").as("nb"))), Seq("sb"))
          .select(col("sa"), col("sb"), col("inter"), col("na"), col("nb"),
            expr("inter * 1000000L DIV (na + nb - inter)").as("jaccard_ppm"))
          .orderBy("sa", "sb")
      },
      Some(s"""$tkCte,
        sh AS (SELECT DISTINCT source, ${md5IntSql("ov:", "g")} AS h
          FROM (SELECT source, unnest($shSql) AS g FROM tk)),
        tot AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
        iv AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
          GROUP BY 1, 2)
        SELECT sa, sb, CAST(inter AS BIGINT) AS inter,
          CAST(ta.n AS BIGINT) AS na, CAST(tb.n AS BIGINT) AS nb,
          CAST(inter * 1000000 // (ta.n + tb.n - inter) AS BIGINT) AS jaccard_ppm
        FROM iv JOIN tot ta ON iv.sa = ta.source
          JOIN tot tb ON iv.sb = tb.source ORDER BY sa, sb""")),

    // ── Equal-frequency length bucketing (NTILE semantics) for padding-
    //    efficient batch packing — but WITHOUT the single-task global
    //    window a bare NTILE() OVER (ORDER BY …) compiles to. The global
    //    rank decomposes exactly: per-length counts form a tiny frame
    //    (distinct lengths ≪ rows — the only serial window in the plan
    //    runs over THAT frame, q72's bucketedCumsum argument), its
    //    exclusive prefix sums are broadcast back as rank offsets, and the
    //    within-length row_number partitions by n_chars (bounded groups).
    //    The NTILE remainder rule — first (N mod k) buckets get one extra
    //    row — is then pure integer arithmetic on (rank, N), which the
    //    untranslated DuckDB NTILE hash-confirms ──
    Q("q204_length_buckets",
      (s, d) => {
        val k = 8
        val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        val wOff = Window.orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = docs.groupBy("n_chars").agg(count(lit(1)).as("c"))
          .withColumn("off", coalesce(sum("c").over(wOff), lit(0L)))
          .select("n_chars", "off")
        val wRn = Window.partitionBy("n_chars").orderBy("doc_id")
        val tot = docs.groupBy().agg(count(lit(1)).as("ntot"))
        docs.withColumn("rn", row_number().over(wRn))
          .join(broadcast(offs), Seq("n_chars"))
          .withColumn("rank", col("off") + col("rn"))
          .crossJoin(broadcast(tot))
          .withColumn("base", expr(s"ntot DIV $k"))
          .withColumn("rem", col("ntot") % k)
          .withColumn("cut", (col("base") + 1) * col("rem"))
          .withColumn("bucket",
            when(col("rank") <= col("cut"),
              expr("(rank - 1) DIV (base + 1) + 1"))
              .otherwise(expr("rem + (rank - 1 - cut) DIV base + 1")))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
            max("n_chars").as("max_chars"), sum("n_chars").as("sum_chars"))
          .orderBy("bucket")
      },
      Some("""WITH b AS (SELECT doc_id, n_chars,
            NTILE(8) OVER (ORDER BY n_chars, doc_id) AS bucket FROM documents)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
          MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM b GROUP BY bucket ORDER BY bucket""")),

    // ── Incremental fuzzy-dedup maintenance (VERDICT r14 #5) — q168's
    //    nightly flow for MinHash/LSH instead of exact hashes. The corpus
    //    keeps a persisted BAND INDEX (doc_id, sig, band, bkey — K ints +
    //    B keys per doc, never the text); a new batch is signed, banded,
    //    equi-joined against the index for new-vs-corpus candidates and
    //    against itself for new-vs-new. Historical DOCUMENTS are never
    //    re-read — the corpus side of the executed plan scans the parquet
    //    index, which the in-query require() pins — so per-night cost is
    //    O(batch + band collisions), not O(corpus). Soundness: banding is
    //    per-document and candidate = one shared (band, bkey), so
    //    batch×index ∪ batch×batch is EXACTLY the full-recompute pair set
    //    restricted to pairs touching the batch — the oracle recomputes
    //    from scratch on the grown corpus and the hash-match proves the
    //    maintenance path loses no pair (12 cross + 6 within at sf0.01 —
    //    non-vacuous both ways, require()d) ──
    Q("q207_incremental_lsh",
      (s, d) => {
        val work = WorkDirs.workDir("graft_q207")
        val docs = t(s, d, "documents")
        def banded(df: DataFrame) = bandsOf(
          sigsOf(shingleRows(df.select(col("doc_id"), tokens(col("text")).as("t")))),
          B, K / B)
        // one-time index build — the state a production pipeline maintains
        banded(docs.filter(col("doc_id") % 3 =!= 0))
          .write.mode("overwrite").parquet(s"$work/bandidx")
        val idx = s.read.parquet(s"$work/bandidx")
        val bb = banded(docs.filter(col("doc_id") % 3 === 0))
        def sim = (aggregate(zip_with(col("sig1"), col("sig2"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (a, v) => a + v)
          .cast("double") / K).as("est_sim")
        // est_sim is symmetric, so the least/greatest normalization does
        // not need to swap the sig columns with the ids
        val cross = bb.select(col("doc_id").as("db"), col("band"),
            col("bkey"), col("sig").as("sig1"))
          .join(idx.select(col("doc_id").as("dc"), col("band"),
            col("bkey"), col("sig").as("sig2")), Seq("band", "bkey"))
          .select(least(col("db"), col("dc")).as("d1"),
            greatest(col("db"), col("dc")).as("d2"), col("sig1"), col("sig2"))
          .dropDuplicates("d1", "d2")
          .select(col("d1"), col("d2"), sim, lit("new-corpus").as("side"))
        val within = bb.select(col("doc_id").as("d1"), col("band"),
            col("bkey"), col("sig").as("sig1"))
          .join(bb.select(col("doc_id").as("d2"), col("band"),
            col("bkey"), col("sig").as("sig2")), Seq("band", "bkey"))
          .filter(col("d1") < col("d2"))
          .dropDuplicates("d1", "d2")
          .select(col("d1"), col("d2"), sim, lit("new-new").as("side"))
        val out = Caches.cached(
          cross.unionByName(within).orderBy("d1", "d2"))
        require(PlanChecks.scans(out, s"$work/bandidx"),
          "the corpus side must read the persisted band index")
        val sides = out.groupBy("side").count().collect()
          .map(_.getString(0)).toSet
        require(sides == Set("new-corpus", "new-new"),
          s"vacuous parity proof: only sides=$sides present")
        out
      },
      Some(s"""$tkCte,
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "g")}
        SELECT d1, d2, est_sim,
          CASE WHEN d1 % 3 = 0 AND d2 % 3 = 0 THEN 'new-new'
               ELSE 'new-corpus' END AS side
        FROM pairs_g WHERE d1 % 3 = 0 OR d2 % 3 = 0 ORDER BY d1, d2""")),

    // ── q207 run as the STREAMING nightly it models: a checkpointed file
    //    stream of document drops, foreachBatch banding each micro-batch,
    //    joining it against the persisted band index for pairs, then
    //    APPENDING the batch's own bands as a new index generation — so
    //    drop 2 sees drop 1 as corpus. Every pair is discovered exactly
    //    once, in the batch its LATER member arrives in — which the oracle
    //    states in closed form (disc = GREATEST of the group ids), so the
    //    hash checks the exactly-once discovery schedule, not just the
    //    pair set. Replay-safe: pairs and bands land in batch-keyed dirs
    //    with overwrite, and the index read EXCLUDES the current batch's
    //    generation, so a replayed half-committed batch recomputes
    //    identical pairs instead of matching against its own leftovers ──
    Q("q209_streaming_lsh_index",
      (s, d) => {
        val work = WorkDirs.workDir("graft_q209")
        val docs = t(s, d, "documents")
        val sch = docs.schema
        def banded(df: DataFrame) = bandsOf(
          sigsOf(shingleRows(df.select(col("doc_id"), tokens(col("text")).as("t")))),
          B, K / B)
        // seed corpus: its bands are generation 'seed' of the index
        banded(docs.filter(col("doc_id") % 3 === 0))
          .write.mode("overwrite").parquet(s"$work/idx/gen=seed")
        def sim = (aggregate(zip_with(col("sig1"), col("sig2"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (a, v) => a + v)
          .cast("double") / K).as("est_sim")
        def onBatch(batch: DataFrame, id: Long): Unit = {
          val bb = banded(batch)
          val idx = s.read.option("basePath", s"$work/idx")
            .parquet(s"$work/idx")
            .filter(col("gen") =!= lit(s"b$id")) // replay guard
          val cross = bb.select(col("doc_id").as("db"), col("band"),
              col("bkey"), col("sig").as("sig1"))
            .join(idx.select(col("doc_id").as("dc"), col("band"),
              col("bkey"), col("sig").as("sig2")), Seq("band", "bkey"))
            .select(least(col("db"), col("dc")).as("d1"),
              greatest(col("db"), col("dc")).as("d2"), col("sig1"), col("sig2"))
          val within = bb.select(col("doc_id").as("d1"), col("band"),
              col("bkey"), col("sig").as("sig1"))
            .join(bb.select(col("doc_id").as("d2"), col("band"),
              col("bkey"), col("sig").as("sig2")), Seq("band", "bkey"))
            .filter(col("d1") < col("d2"))
          cross.unionByName(within.select("d1", "d2", "sig1", "sig2"))
            .dropDuplicates("d1", "d2")
            .select(col("d1"), col("d2"), sim)
            .write.mode("overwrite").parquet(s"$work/pairs/disc=$id")
          bb.write.mode("overwrite").parquet(s"$work/idx/gen=b$id")
        }
        def drop(group: Int, name: String): Unit = {
          val tmp = s"$work/tmp_$name"
          docs.filter(col("doc_id") % 3 === group)
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          graft.ops.FileDrop.moveSinglePart(
            tmp, s"$work/feed", s"$name.parquet", ".parquet")
        }
        def drain(): Unit = {
          val q = s.readStream.schema(sch).parquet(s"$work/feed")
            .writeStream.foreachBatch(onBatch _)
            .option("checkpointLocation", s"$work/ckpt")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        drop(1, "night1"); drain() // batch 0
        drop(2, "night2"); drain() // batch 1 — sees night1 as corpus
        val out = Caches.cached(s.read.option("basePath", s"$work/pairs")
          .parquet(s"$work/pairs")
          .select(col("d1"), col("d2"), col("est_sim"),
            col("disc").cast("int").as("disc"))
          .orderBy("d1", "d2"))
        val byDisc = out.groupBy("disc").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        require(byDisc.keySet == Set(0, 1) && byDisc.values.forall(_ > 0),
          s"vacuous schedule proof: discoveries per batch = $byDisc")
        out
      },
      Some(s"""$tkCte,
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "h")}
        SELECT d1, d2, est_sim,
          CAST(GREATEST(d1 % 3, d2 % 3) - 1 AS INTEGER) AS disc
        FROM pairs_h WHERE GREATEST(d1 % 3, d2 % 3) > 0 ORDER BY d1, d2""")),

    // ── CDF-driven band-index maintenance — the TAKEDOWN flow (corpus
    //    deletes/edits must leave the dedup index, or removed text keeps
    //    suppressing new documents forever): the source documents table
    //    mutates across commits (insert, text edits, hard deletes) and a
    //    change-feed stream maintains the band INDEX table — re-signed
    //    bands merged per changed doc (every doc owns exactly bands
    //    0..B-1, so the upsert replaces its whole key range), deleted
    //    docs' rows (and docs an edit left unshingleable) removed via a
    //    composite-pk merge-delete. Per-batch change DETECTION is bounded
    //    by the changed rows (the change feed), and the index RESTAGE by
    //    the doc-id buckets those rows hash into (the index is
    //    bucket-partitioned, bucket in the pk so merges skip the
    //    migration probe); the oracle recomputes the index from the
    //    source's FINAL state, so the hash proves maintained ≡ rebuilt ──
    Q("q212_cdf_index_maintenance",
      (s, d) => {
        val work = WorkDirs.workDir("graft_q212")
        val src = graft.lake.VersionedTable(s, s"$work/src", Seq("doc_id"),
          Seq("lang"), recordCdf = true)
        // partitioned by a doc-id bucket so a maintenance batch restages
        // only the buckets its changed docs hash into — and the bucket is
        // IN the pk (it is a pure function of doc_id, so uniqueness
        // holds), which tells merge the partition is pk-stable and skips
        // the cross-partition migration probe. Bucket count is the
        // files-vs-restage-granularity knob: it scales with corpus size
        // (4 here; hundreds at 100 TB)
        def grpOf(c: Column) = pmod(c, lit(4L))
        val idx = graft.lake.VersionedTable(s, s"$work/idx",
          Seq("grp", "doc_id", "band"), Seq("grp"))
        def banded(df: DataFrame) = bandsOf(
          sigsOf(shingleRows(df.select(col("doc_id"), tokens(col("text")).as("t")))),
          B, K / B)
        val allBands = (0 until B).map(lit(_)).toArray
        def applyBatch(batch: DataFrame): Unit = {
          val ord = col("_commit_version") * 2 +
            when(col("change_type") === "update_preimage", 0).otherwise(1)
          val latest = batch.groupBy("doc_id")
            .agg(max_by(struct(batch.columns.filter(_ != "doc_id").map(col): _*),
              ord).as("x"))
            .select(col("doc_id") +: batch.columns.filter(_ != "doc_id")
              .map(c => col(s"x.$c").as(c)): _*)
            .persist()
          var newRows: DataFrame = null
          try {
            val up = latest
              .filter(col("change_type").isin("insert", "update_postimage"))
              .select(col("doc_id"), col("text"))
            // persisted PER BATCH (q255's pattern): the MinHash banding is
            // the expensive upstream here, and without the persist it
            // re-executed up to four times per drained commit — the
            // isEmpty probe, the unshingleable left_anti, merge's own
            // materialization, and the delete mergeInto's (merge/mergeInto
            // detect the caller's cache and skip their internal persist)
            newRows = if (up.isEmpty) null
              else banded(up).select(grpOf(col("doc_id")).as("grp"),
                col("doc_id"), col("band"), col("bkey"))
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            // a doc whose edit left it unshingleable (<3 tokens) emits no
            // bands — its stale rows must go the way of a delete's
            val gone = latest.filter(col("change_type") === "delete")
              .select("doc_id")
              .unionByName(
                if (newRows == null) up.select("doc_id")
                else up.select("doc_id")
                  .join(newRows.select("doc_id").distinct(),
                    Seq("doc_id"), "left_anti"))
            // merge + matched-delete pair, NOT one conditional mergeInto:
            // measured A/B at sf0.1 (round 16) put the combined clause form
            // ~30% SLOWER here — executeMergeInto's full-outer clause
            // algebra persists the whole touched-partition join (plus the
            // source-key-uniqueness and insert-escape passes), which costs
            // more than the second commit it saves on this band-row shape
            if (newRows != null && !newRows.isEmpty) idx.merge(newRows)
            if (idx.exists && !gone.isEmpty)
              idx.mergeInto(gone.select(grpOf(col("doc_id")).as("grp"),
                  col("doc_id"),
                  explode(array(allBands.toIndexedSeq: _*)).as("band")))
                .whenMatched().delete().execute()
          } finally {
            if (newRows != null) newRows.unpersist(false)
            latest.unpersist(false)
          }
        }
        def drain(): Unit = {
          val q = src.readChangesStream()
            .writeStream
            .foreachBatch((b: DataFrame, _: Long) => applyBatch(b))
            .option("checkpointLocation", s"$work/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        src.overwrite(t(s, d, "documents"))                        // v1
        drain()
        src.update(col("doc_id") % 10 === 0,                       // v2: edits
          Map("text" -> concat(col("text"), lit(" graftedit"))))
        drain()
        src.deleteMor(col("doc_id") % 17 === 0)                    // v3: takedown
        drain()
        idx.read.select(col("doc_id"), col("band"), col("bkey"))
          .orderBy("doc_id", "band")
      },
      Some(s"""WITH fin AS (SELECT doc_id,
            CASE WHEN doc_id % 10 = 0 THEN text || ' graftedit' ELSE text END AS text
          FROM documents WHERE doc_id % 17 <> 0),
        tk2 AS (SELECT doc_id, $toksSql AS t FROM fin),
        sh2 AS (SELECT doc_id, $shSql AS sh FROM tk2),
        shf2 AS (SELECT doc_id, sh FROM sh2 WHERE len(sh) > 0),
        ${sigsBandsSql("shf2", "m")}
        SELECT doc_id, CAST(b AS INTEGER) AS band, bkey
        FROM bands_m ORDER BY doc_id, band""")),

    // ── The ITERATED BPE trainer (Sennrich et al., ACL 2016) — the
    //    canonical tokenizer-training loop, extending q200's single
    //    pair-count to k learned merge rules: count adjacent symbol pairs
    //    (frequency-weighted), take the argmax under a TOTAL order
    //    (cnt DESC, a, b), apply the merge greedily left-to-right, repeat.
    //    Scale shape: the corpus is scanned ONCE into a (word, freq)
    //    vocabulary; every training round then runs on the vocab — a
    //    narrow explode → count over the pair space plus a single-row
    //    argmax collect (the merge rule IS driver metadata, like q205's
    //    centroid codebook). Merge application is an exact string-replace
    //    trick shared verbatim by both engines: symbols are two-space
    //    separated ("  a  b  "), the pattern " a  b " claims ONE space
    //    from each boundary, and the replacement " ab " restores it — so
    //    builtin non-overlapping left-to-right replace() IS BPE's greedy
    //    merge semantics ("a a a" merges once, "a a a a" twice), with no
    //    lookarounds (DuckDB's RE2 has none). The oracle unrolls the k
    //    rounds as a fixed CTE chain (q205's pattern); python-validated
    //    bit-exact at sf0.001 and sf0.01 before landing ──
    Q("q217_bpe_trainer",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val (merges, _) = bpeTrain(bpeVocab(t(s, d, "documents")), 6)
        merges.toDF("round", "a", "b", "cnt")
          .select(col("round").cast("int").as("round"), col("a"), col("b"),
            col("cnt"))
          .orderBy("round")
      },
      Some {
        val union = (1 to 6).map(r =>
          s"SELECT $r AS round, a, b, CAST(cnt AS BIGINT) AS cnt FROM b$r")
          .mkString(" UNION ALL ")
        s"""$tkCte,
           |${bpeSql(6)}
           |SELECT CAST(round AS INTEGER) AS round, a, b, cnt
           |FROM ($union) ORDER BY round""".stripMargin
      }),

    // ── The trained tokenizer APPLIED — the consumption half of q217:
    //    tokenize the corpus with the learned merge table and publish the
    //    stats every training pipeline sizes batches with (token counts,
    //    fertility = BPE tokens per word, chars per token). The key scale
    //    property: merges apply to the VOCAB (distinct words), and the
    //    corpus then JOINS word → token-count — the expensive per-round
    //    replace never touches corpus rows, and the join is a plain
    //    equi-join on the word (no broadcast assumption: the vocab is
    //    unbounded at 100 TB). Integer ppm ratios — exact cross-engine ──
    Q("q220_bpe_encode",
      (s, d) => {
        val docs = t(s, d, "documents")
        val (_, finalVocab) = bpeTrain(bpeVocab(docs), 6)
        val ntok = finalVocab.select(col("w0"),
          size(split(trim(col("w")), "  ")).as("ntok"),
          length(col("w0")).as("nch"))
        docs.select(col("source"), explode(tokens(col("text"))).as("w0"))
          .join(ntok, Seq("w0"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_words"),
            sum("ntok").as("n_bpe_tokens"),
            sum("nch").as("n_chars"))
          .select(col("source"), col("n_words"), col("n_bpe_tokens"),
            col("n_chars"),
            expr("n_bpe_tokens * 1000000L DIV n_words").as("fertility_ppm"),
            expr("n_chars * 1000000L DIV n_bpe_tokens").as("chars_per_token_ppm"))
          .orderBy("source")
      },
      Some(s"""$tkCte,
        ${bpeSql(6)},
        tokmap AS (SELECT w0, len(string_split(trim(w, ' '), '  ')) AS ntok,
            length(w0) AS nch FROM e6),
        wd AS (SELECT source, unnest(t) AS w0 FROM tk)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(ntok) AS BIGINT) AS n_bpe_tokens,
          CAST(SUM(nch) AS BIGINT) AS n_chars,
          CAST(SUM(ntok) * 1000000 // COUNT(*) AS BIGINT) AS fertility_ppm,
          CAST(SUM(nch) * 1000000 // SUM(ntok) AS BIGINT) AS chars_per_token_ppm
        FROM wd JOIN tokmap USING (w0)
        GROUP BY source ORDER BY source"""))
  )

  /** Q223 lives here so it can share q91's codegen'd 13-gram expansion
    * shape (posexplode + 12 window leads — the interpreted array-HOF
    * formulation measured 35× slower at sf0.1).
    */
  val queries2: Seq[Q] = Seq(
    // ── Memorization-risk report (Lee et al. 2022, "Deduplicating
    //    Training Data Makes Language Models Better"): the top VERBATIM
    //    duplicated 13-gram passages INSIDE the corpus, with occurrence
    //    and document counts — the curation report that decides what
    //    q189's paragraph scrub should target. Distinct from q91
    //    (cross-corpus benchmark contamination) and q110 (coverage
    //    ratio): this names the passages. Shape: one shuffle of
    //    (gram, partial count) with map-side combine, then a TakeOrdered
    //    top-20 under the total order (n_occ DESC, gram) — no window, no
    //    all-pairs; at 100 TB the count runs identically (the gram key
    //    shards), or on gram hashes with a top-k text join-back when
    //    shuffle bytes matter ──
    Q("q223_dup_ngram_report",
      (s, d) => {
        val w = Window.partitionBy("doc_id").orderBy("i")
        val leads = (1 until 13).map(k => lead("tok", k).over(w))
        val grams = t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "tok")))
          .select(col("doc_id"),
            concat_ws(" ", col("tok") +: leads: _*).as("g"),
            leads.last.isNotNull.as("ok"))
          .filter(col("ok"))
        grams.groupBy("g")
          .agg(count(lit(1)).as("n_occ"),
            countDistinct(col("doc_id")).as("n_docs"))
          .filter(col("n_occ") > 1)
          .orderBy(col("n_occ").desc, col("g")).limit(20)
      },
      Some(s"""$tkCte,
        g AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 13
                THEN list_transform(range(1, len(t) - 11),
                  i -> array_to_string(t[i:i+12], ' '))
                ELSE [] END) AS g FROM tk)
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_occ,
          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM g GROUP BY g HAVING COUNT(*) > 1
        ORDER BY n_occ DESC, g LIMIT 20""")),

    // ── Mixed-language document audit: q31's stopword lang-ID applied
    //    per 16-token CHUNK instead of per document, reporting docs whose
    //    chunks DISAGREE — the code-switching / boilerplate-splice
    //    detector (a doc-level guess hides a foreign block; chunk-level
    //    disagreement is what routes a doc to review or splitting).
    //    Shape: one posexplode → two groupBys (doc,chunk) then (doc) —
    //    both map-combined; no windows, no joins. Minority share in
    //    exact integer ppm. The uniform-docs require() keeps the audit
    //    non-vacuous in BOTH directions ──
    Q("q224_mixed_lang_audit",
      (s, d) => {
        val chunks = t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
          .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "tok")))
          .select(col("doc_id"), expr("i DIV 16").as("chunk"), col("tok"))
          .groupBy("doc_id", "chunk")
          .agg((sum(when(col("tok").isin(stops: _*), 1).otherwise(0)) * 10 >=
            count(lit(1))).as("is_en"))
        val docs = graft.ops.Caches.cached(chunks.groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("is_en"), 1L).otherwise(0L)).as("n_en"))
          .select(col("doc_id"), col("n_chunks"), col("n_en"),
            (col("n_chunks") - col("n_en")).as("n_unk"),
            expr("least(n_en, n_chunks - n_en) * 1000000L DIV n_chunks")
              .as("minority_ppm")))
        val mixed = docs.filter(col("n_en") > 0 && col("n_en") < col("n_chunks"))
          .orderBy("doc_id")
        val uniform = docs.filter(col("minority_ppm") === 0).count()
        require(uniform > 0,
          "vacuous audit: every document is chunk-mixed — the uniform class " +
            "is empty and the detector separates nothing")
        mixed
      },
      Some(s"""$tkCte,
        w AS (SELECT doc_id, t[i] AS tok, CAST((i - 1) // 16 AS BIGINT) AS chunk
          FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
                FROM tk WHERE len(t) > 0)),
        ch AS (SELECT doc_id, chunk,
            CASE WHEN SUM(CASE WHEN tok IN ($stopsSql) THEN 1 ELSE 0 END) * 10
                      >= COUNT(*)
                 THEN 1 ELSE 0 END AS is_en
          FROM w GROUP BY doc_id, chunk),
        dd AS (SELECT doc_id, COUNT(*) AS n_chunks, SUM(is_en) AS n_en
          FROM ch GROUP BY doc_id)
        SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
          CAST(n_en AS BIGINT) AS n_en,
          CAST(n_chunks - n_en AS BIGINT) AS n_unk,
          CAST(LEAST(n_en, n_chunks - n_en) * 1000000 // n_chunks AS BIGINT)
            AS minority_ppm
        FROM dd WHERE n_en > 0 AND n_en < n_chunks
        ORDER BY doc_id""")),

    // ── Leakage-FREE split assignment: q175 derives train/valid/test from
    //    a salted hash of the DOC id, and q198 then audits how many
    //    near-dup pairs that splits apart — this operator PREVENTS the
    //    leak instead of reporting it, by keying the split hash on the
    //    near-dup CLUSTER id (q54's components; docs in no pair are their
    //    own singleton cluster), so a whole transitive near-dup family
    //    lands in one split by construction. The in-query require() proves
    //    the problem is real on this corpus: under the doc-keyed split the
    //    same pair set WOULD cross splits (>0 leaky pairs — the exact
    //    quantity q198 reports). Derivable end-to-end, so any engine can
    //    recompute membership without a stored assignment table ──
    Q("q225_cluster_split_assignment",
      (s, d) => {
        def splitOf(c: Column) = {
          val b = md5Int("split:", c.cast("string")) % 100
          when(b < 80, "train").when(b < 90, "valid").otherwise("test")
        }
        val docs = t(s, d, "documents")
        val edges = Caches.cached(lshPairs(
            docs.select(col("doc_id"), tokens(col("text")).as("t")))
          .filter(col("est_sim") >= 0.5)
          .select("d1", "d2"))
        // non-vacuity: the doc-keyed split would leak on this pair set
        val leaky = edges
          .filter(splitOf(col("d1")) =!= splitOf(col("d2"))).count()
        require(leaky > 0,
          "vacuous prevention: the doc-keyed split leaks no pair here — " +
            "cluster-keying would be indistinguishable")
        val comp = graft.ops.Components.connectedComponents(edges, "d1", "d2")
        docs.select(col("doc_id"))
          .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
          .select(col("doc_id"), col("cluster"),
            splitOf(col("cluster")).as("split"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE tk AS (SELECT doc_id, $toksSql AS t FROM documents),
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "sp")},
        edges AS (SELECT d1, d2 FROM pairs_sp WHERE est_sim >= 0.5),
        e2 AS (SELECT d1 AS a, d2 AS b FROM edges UNION ALL SELECT d2, d1 FROM edges),
        nodes AS (SELECT DISTINCT a AS id FROM e2),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e2.a, reach.r FROM e2 JOIN reach ON e2.b = reach.id),
        comp AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id),
        asg AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
          FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
        SELECT doc_id, cluster,
          CASE WHEN ${md5IntSql("split:", "CAST(cluster AS VARCHAR)")} % 100 < 80
               THEN 'train'
               WHEN ${md5IntSql("split:", "CAST(cluster AS VARCHAR)")} % 100 < 90
               THEN 'valid' ELSE 'test' END AS split
        FROM asg ORDER BY doc_id""")),

    // ── LM-perplexity quality gate (VERDICT r16 #3) — the CCNet-style
    //    curation staple: a bigram LM is trained on a CLEAN reference
    //    slice (doc_id ≡ 0 mod 3), every document is scored by its
    //    Laplace-smoothed per-bigram negative log-likelihood, and
    //    keep-rates per (source, threshold) come out of q169's one-scan
    //    exploded-threshold sweep. Exactness: NLL is quantized to integer
    //    MILLI-NATS at the bigram — floor(1000·ln((c1+V)/(c2+1)) + 0.5)
    //    on counts that are exact integers in both engines, so the gate
    //    comparison (Σnll ≤ thr·n) is pure BIGINT arithmetic thereafter.
    //    Thresholds [3300,3400,3500] milli-nats were calibrated in DuckDB
    //    at all three SFs before landing (16/182/453 kept of 500 at
    //    sf0.001). Scale: the LM tables key on the UNBOUNDED vocab, so
    //    scoring is two shuffle equi-joins (w1,w2)/(w1) — q220's
    //    no-broadcast discipline; only the vocab-size scalar V reaches
    //    the driver ──
    Q("q227_perplexity_gate",
      (s, d) => {
        val out = Caches.cached(lmPerDoc(s, d)
          .withColumn("thr",
            explode(array(Seq(3300L, 3400L, 3500L).map(lit): _*)))
          .groupBy("source", "thr")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("s") <= col("thr") * col("n"), 1L).otherwise(0L))
              .as("n_kept"))
          .orderBy("source", "thr"))
        val mix = out.agg(sum(col("n_kept")),
          sum(col("n_docs") - col("n_kept"))).head
        require(mix.getLong(0) > 0 && mix.getLong(1) > 0,
          s"vacuous perplexity gate: kept=${mix.getLong(0)} " +
            s"dropped=${mix.getLong(1)} — need both verdicts present " +
            "across the threshold sweep")
        out
      },
      Some(s"""$tkCte,
        $lmPerDocSql,
        sw AS (SELECT source, s, n,
                 CAST(UNNEST([3300, 3400, 3500]) AS BIGINT) AS thr
               FROM perdoc)
        SELECT source, thr, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN s <= thr * n THEN 1 ELSE 0 END) AS BIGINT)
            AS n_kept
        FROM sw GROUP BY 1, 2 ORDER BY source, thr""")),

    // ── CCNet-style perplexity BUCKETS — the partitioning step after
    //    q227's gate: every document labeled head/middle/tail by
    //    per-source perplexity terciles (Wenzek et al. 2020 trains on the
    //    head, mixes the middle, drops the tail). Ranking key is the
    //    integer micro-nat average (s·1000 div n) — exact in both engines,
    //    no IEEE-division tie ambiguity — and the per-source rank comes
    //    from bucketedCumsum over 25k-micro-nat slices of the key range,
    //    so NO per-source corpus-wide sort window (a billion-doc source
    //    would put its whole frame on one task). Tercile cuts are exact
    //    integer rank arithmetic (3·rk vs n, q203's discipline) ──
    Q("q232_perplexity_buckets",
      (s, d) => {
        // cached: the frame fans out into cnt + bucketedCumsum's local and
        // offsets branches — without the cache the LM scoring runs 3×
        val scoredDocs = Caches.cached(lmPerDoc(s, d)
          .select(col("doc_id"), col("source"),
            expr("(s * 1000) div n").as("qavg"))
          .withColumn("one", lit(1L)))
        val cnt = scoredDocs.groupBy("source").agg(count(lit(1)).as("cnt"))
        bucketedCumsum(scoredDocs, "source", expr("qavg div 25000"),
            Seq(col("qavg"), col("doc_id")), "one", "rk")
          .join(broadcast(cnt), Seq("source"))
          .select(col("doc_id"), col("source"), col("qavg"),
            when(col("rk") * 3 <= col("cnt"), "head")
              .when(col("rk") * 3 <= col("cnt") * 2, "middle")
              .otherwise("tail").as("bucket"))
          .orderBy("doc_id")
      },
      Some(s"""$tkCte,
        $lmPerDocSql,
        ranked AS (SELECT doc_id, source, (s * 1000) // n AS qavg,
            row_number() OVER (PARTITION BY source
              ORDER BY (s * 1000) // n, doc_id) AS rk,
            COUNT(*) OVER (PARTITION BY source) AS cnt
          FROM perdoc)
        SELECT doc_id, source, CAST(qavg AS BIGINT) AS qavg,
          CASE WHEN 3 * rk <= cnt THEN 'head'
               WHEN 3 * rk <= 2 * cnt THEN 'middle'
               ELSE 'tail' END AS bucket
        FROM ranked ORDER BY doc_id""")),

    // ── GPT-style sequence packing — the last transform before tokens hit
    //    a trainer: documents in q230's deterministic shuffled order are
    //    CONCATENATED and split into fixed-length training sequences; each
    //    doc maps to (start_seq, end_seq, seq_off) via global token prefix
    //    sums. Same no-global-sort machinery as q230 (salted-hash order +
    //    bucketedCumsum; the only serial frame is the 32-row bucket
    //    subtotal), same plan require(). The spanning mix is require()d
    //    non-vacuous: some docs cross a sequence boundary, some fit ──
    Q("q233_sequence_pack",
      (s, d) => {
        val L = 512L
        val nb = 32L
        val docs = t(s, d, "documents")
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
          .filter(col("n_tok") > 0)
          .select(col("doc_id"), col("n_tok"),
            md5Int("sp:", col("doc_id").cast("string")).as("h"))
          .withColumn("part", lit("all"))
        val bucket = expr(s"h div ${(1L << 32) / nb}")
        val packed = bucketedCumsum(docs, "part", bucket,
            Seq(col("h"), col("doc_id")), "n_tok", "hi")
          .select(col("doc_id"), col("n_tok"),
            expr(s"(hi - n_tok) div $L").as("start_seq"),
            expr(s"(hi - 1) div $L").as("end_seq"),
            ((col("hi") - col("n_tok")) % L).as("seq_off"))
        val serial = graft.ops.PlanChecks.serialStages(packed)
        require(serial.isEmpty,
          s"sequence packing must stay distributed — serial stages: $serial")
        val out = Caches.cached(packed.orderBy("doc_id"))
        val mix = out.agg(
          sum(when(col("end_seq") > col("start_seq"), 1L).otherwise(0L)),
          sum(when(col("end_seq") === col("start_seq"), 1L).otherwise(0L))).head
        require(mix.getLong(0) > 0 && mix.getLong(1) > 0,
          s"vacuous packing: ${mix.getLong(0)} spanning / ${mix.getLong(1)} " +
            "contained docs — need both")
        out
      },
      Some(s"""$tkCte,
        n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
            ${md5IntSql("sp:", "CAST(doc_id AS VARCHAR)")} AS h
          FROM tk),
        c AS (SELECT doc_id, n_tok,
            SUM(n_tok) OVER (ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
          FROM n WHERE n_tok > 0)
        SELECT doc_id, n_tok,
          CAST((hi - n_tok) // 512 AS BIGINT) AS start_seq,
          CAST((hi - 1) // 512 AS BIGINT) AS end_seq,
          CAST((hi - n_tok) % 512 AS BIGINT) AS seq_off
        FROM c ORDER BY doc_id""")),

    // ── Exact-substring span REMOVAL (VERDICT r16 #5) — the Lee et al.
    //    transform q110 only reports: every position covered by a
    //    corpus-duplicated 13-gram is dropped and the survivors are
    //    spliced back in order, so the OUTPUT is the transformed corpus
    //    (per-doc order-sensitive md5 of the reassembled text pins every
    //    splice; q110's same 'sg:' gram hash, so q228 removes exactly the
    //    spans q110 reports). Shapes: gram hashing is the one narrow
    //    lead pass; dup detection one gram-keyed groupBy; covered
    //    positions explode only DUP grams; the splice is a per-doc
    //    collect_list over SURVIVING tokens (bounded by doc length —
    //    never corpus-wide). 23 docs fully scrubbed at sf0.001/0.01 —
    //    the empty-doc edge is real and both engines md5('') it ──
    Q("q228_span_removal",
      (s, d) => {
        val L = 13
        val w = Window.partitionBy("doc_id").orderBy("i")
        val leads = (1 until L).map(k => lead("tok", k).over(w))
        val tk = Caches.cached(t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0))
        val toks = tk.select(col("doc_id"),
          posexplode(col("t")).as(Seq("i", "tok")))
        val grams = Caches.cached(toks
          .select(col("doc_id"), col("i"),
            concat_ws(" ", col("tok") +: leads: _*).as("g"),
            leads.last.isNotNull.as("ok"))
          .filter(col("ok"))
          .select(col("doc_id"), col("i"),
            md5(concat(lit("sg:"), col("g")).cast("binary")).as("h")))
        val dup = grams.groupBy("h").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).select("h")
        val covered = grams.join(dup, Seq("h"))
          .select(col("doc_id"),
            explode(sequence(col("i"), col("i") + (L - 1))).as("p"))
          .distinct()
        // covered's columns renamed before the join: the frames share
        // lineage, and a doc_id === doc_id condition between them leans on
        // dataset-id disambiguation (Spark already warns "trivially true
        // equals predicate") — one plan rewrite away from over-scrubbing
        val cov2 = covered.select(col("doc_id").as("cdoc"), col("p"))
        val kept = toks.join(cov2,
          toks("doc_id") === cov2("cdoc") && toks("i") === cov2("p"),
          "left_anti")
        val rebuilt = kept.groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            array_join(transform(
              array_sort(collect_list(struct(col("i"), col("tok")))),
              x => x.getField("tok")), " ").as("txt"))
        val out = Caches.cached(tk
          .select(col("doc_id"), size(col("t")).cast("long").as("n_tok"))
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tok"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            md5(coalesce(col("txt"), lit("")).cast("binary")).as("scrub_md5"))
          .orderBy("doc_id"))
        val mix = out.agg(
          sum(when(col("n_kept") < col("n_tok"), 1L).otherwise(0L)),
          sum(when(col("n_kept") === col("n_tok"), 1L).otherwise(0L)),
          sum(when(col("n_kept") === 0L, 1L).otherwise(0L))).head
        require(mix.getLong(0) > 0 && mix.getLong(1) > 0 && mix.getLong(2) > 0,
          s"vacuous span removal: scrubbed=${mix.getLong(0)} " +
            s"untouched=${mix.getLong(1)} emptied=${mix.getLong(2)} — " +
            "need all three classes present")
        out
      },
      Some(s"""$tkCte,
        tkf AS (SELECT doc_id, t FROM tk WHERE len(t) > 0),
        g0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 11),
                 i -> {'i': i - 1,
                       'h': md5('sg:' || array_to_string(t[i:i+12], ' '))})) AS s
               FROM tkf WHERE len(t) >= 13),
        g AS (SELECT doc_id, s.i AS i, s.h AS h FROM g0),
        dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1),
        covx AS (SELECT DISTINCT doc_id, unnest(range(i, i + 13)) AS p
                 FROM g JOIN dup USING (h)),
        tok0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
                  i -> {'i': i - 1, 'tok': t[i]})) AS s FROM tkf),
        tok2 AS (SELECT doc_id, s.i AS i, s.tok AS tok FROM tok0),
        kept AS (SELECT k.doc_id, k.i, k.tok FROM tok2 k
                 LEFT JOIN covx c ON c.doc_id = k.doc_id AND c.p = k.i
                 WHERE c.p IS NULL),
        re AS (SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(tok, ' ' ORDER BY i) AS txt
               FROM kept GROUP BY doc_id)
        SELECT f.doc_id, CAST(len(f.t) AS BIGINT) AS n_tok,
          CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_kept,
          md5(COALESCE(re.txt, '')) AS scrub_md5
        FROM tkf f LEFT JOIN re USING (doc_id) ORDER BY f.doc_id""")),

    // ── Deterministic epoch shuffle (VERDICT r16 #6): the global
    //    pseudorandom permutation every trainer consumes, WITHOUT a
    //    global sort — each doc's shuffle key is a salted md5 (stable:
    //    a doc keeps its key under corpus growth, so earlier picks only
    //    shift by insertions, never reshuffle), the permutation ordinal
    //    comes from bucketedCumsum over 32 leading-key-range buckets
    //    (the serial frame is the 32-row bucket-subtotal table, O(buckets)
    //    not O(corpus)), and (shard, pos) = ordinal divmod 64. The
    //    in-plan require() walks the physical plan: no global Window and
    //    no single-partition global Sort — the naive row_number()-over-
    //    everything formulation fails it ──
    Q("q230_epoch_shuffle",
      (s, d) => {
        val nb = 32L
        val docs = t(s, d, "documents")
          .select(col("doc_id"),
            md5Int("ep:", col("doc_id").cast("string")).as("h"))
          .withColumn("part", lit("all"))
          .withColumn("one", lit(1L))
        // bucket = leading slice of the key range (md5Int < 2^32):
        // monotone non-decreasing in the (h, doc_id) order, as
        // bucketedCumsum requires
        val bucket = expr(s"h div ${(1L << 32) / nb}")
        val ranked = bucketedCumsum(docs, "part", bucket,
            Seq(col("h"), col("doc_id")), "one", "cum")
          .select(col("doc_id"), col("h"),
            expr("(cum - 1) div 64").as("shard"),
            ((col("cum") - 1) % 64).as("pos"))
        // plan-check (the directive's literal 'Done' bar): the permutation
        // must not funnel the CORPUS through one task. A serial stage is a
        // no-partition Window or single-partition global Sort whose input
        // spine reads raw rows; a spine that passed through an Aggregate
        // is the bucket-subtotal offsets frame (grouped on the 32 fixed
        // bucket values — O(buckets) rows by construction), which is the
        // whole point of the bucketedCumsum decomposition. The naive
        // row_number()-over-everything formulation has no such aggregate
        // and fails this require().
        val serial = graft.ops.PlanChecks.serialStages(ranked)
        require(serial.isEmpty,
          s"epoch shuffle must stay distributed — serial stages: $serial")
        ranked.orderBy("doc_id")
      },
      Some(s"""WITH hsrc AS (SELECT doc_id,
            ${md5IntSql("ep:", "CAST(doc_id AS VARCHAR)")} AS h
          FROM documents),
        r AS (SELECT doc_id, h,
            row_number() OVER (ORDER BY h, doc_id) - 1 AS ord FROM hsrc)
        SELECT doc_id, h, CAST(ord // 64 AS BIGINT) AS shard,
          CAST(ord % 64 AS BIGINT) AS pos
        FROM r ORDER BY doc_id""")),

    // ── Multi-epoch shuffle manifest — q230's deterministic permutation
    //    instantiated for a 3-epoch training schedule in ONE pass: the doc
    //    spine explodes ×3 with an epoch-SALTED hash ("ep<e>:"), and
    //    bucketedCumsum partitions on epoch directly (epoch IS the part
    //    key, so the offsets frame is 3×32 bounded rows and no window
    //    ever sees a corpus-sized partition — the serialStages require()
    //    pins it). Output is the shard MANIFEST a trainer validates
    //    before a run: per (epoch, shard) the doc count, an
    //    order-insensitive content checksum (SUM h) and an ORDER-pinning
    //    checksum (SUM pos·h — any intra-shard reorder changes it). The
    //    distinctness require() proves the three epochs are genuinely
    //    different permutations (per-epoch possum totals all differ —
    //    validated in DuckDB at all three SFs), i.e. the salt actually
    //    reshuffles, the property a stale-salt bug would silently break ──
    Q("q238_epoch_manifest",
      (s, d) => {
        val nb = 32L
        val docs = t(s, d, "documents").select(col("doc_id"))
          .withColumn("epoch", explode(array(lit(0L), lit(1L), lit(2L))))
          .withColumn("h", md5Int("ep", concat(col("epoch").cast("string"),
            lit(":"), col("doc_id").cast("string"))))
          .withColumn("one", lit(1L))
        val bucket = expr(s"h div ${(1L << 32) / nb}")
        val ranked = bucketedCumsum(docs, "epoch", bucket,
            Seq(col("h"), col("doc_id")), "one", "cum")
          .select(col("epoch"), col("doc_id"), col("h"),
            expr("(cum - 1) div 64").as("shard"),
            ((col("cum") - 1) % 64).as("pos"))
        val serial = graft.ops.PlanChecks.serialStages(ranked)
        require(serial.isEmpty,
          s"epoch manifest must stay distributed — serial stages: $serial")
        val out = Caches.cached(ranked.groupBy("epoch", "shard")
          .agg(count(lit(1)).as("n_docs"), sum("h").as("sum_h"),
            sum(col("pos") * col("h")).as("possum"))
          .orderBy("epoch", "shard"))
        val totals = out.groupBy("epoch").agg(sum("possum").as("t"))
          .collect().map(_.getLong(1)) // 3 rows — bounded metadata
        require(totals.distinct.length == 3,
          "vacuous epoch schedule: at least two epochs produced the same " +
            "order-pinning checksum — the salt is not reshuffling")
        out
      },
      Some(s"""WITH ep AS (SELECT UNNEST(range(0, 3)) AS epoch),
        hsrc AS (SELECT ep.epoch, d.doc_id,
            ${md5IntSql("ep",
              "CAST(ep.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")} AS h
          FROM documents d CROSS JOIN ep),
        r AS (SELECT epoch, doc_id, h,
            row_number() OVER (PARTITION BY epoch
              ORDER BY h, doc_id) - 1 AS ord FROM hsrc)
        SELECT CAST(epoch AS BIGINT) AS epoch,
          CAST(ord // 64 AS BIGINT) AS shard,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(h) AS BIGINT) AS sum_h,
          CAST(SUM((ord % 64) * h) AS BIGINT) AS possum
        FROM r GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── Per-source data card — the datasheet a curation team publishes
    //    with a corpus release (Gebru et al.'s "Datasheets for Datasets",
    //    the per-source slice): document/token volumes, lexical breadth
    //    (distinct tokens), length extremes, language mix (distinct langs,
    //    dominant lang + its share) and the mean heuristic quality, one
    //    row per source. Exactness: all counts are integers; the quality
    //    mean is SUM(qint(quality))/n — an integer sum (order-independent)
    //    divided once (one correctly-rounded IEEE division per row, same
    //    inputs both engines) — never a float sum. Scale: one tokenize
    //    pass + one explode-distinct for lexical breadth; every groupBy
    //    keys on source (or source×lang/token — bounded fan-out), so the
    //    whole card is two shuffles of aggregated rows, no windows over
    //    raw docs, nothing driver-side ──
    Q("q235_data_card",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            tokens(col("text")).as("t"))
        val per = tk.select(col("source"), col("lang"),
          size(col("t")).as("n_tok"), qint(qualityCol(col("t"))).as("q_milli"))
        val core = per.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          min("n_tok").cast("long").as("min_tokens"),
          max("n_tok").cast("long").as("max_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          (sum("q_milli").cast("double") / count(lit(1)))
            .as("mean_quality_milli"))
        val dtok = tk.select(col("source"), explode(col("t")).as("tok"))
          .distinct().groupBy("source")
          .agg(count(lit(1)).as("n_distinct_tokens"))
        val wTop = Window.partitionBy("source")
          .orderBy(col("n").desc, col("lang"))
        val top = per.groupBy("source", "lang").agg(count(lit(1)).as("n"))
          .withColumn("r", row_number().over(wTop)).filter(col("r") === 1)
          .select(col("source"), col("lang").as("top_lang"), col("n").as("top_n"))
        core.join(dtok, Seq("source")).join(top, Seq("source"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_distinct_tokens"), col("min_tokens"), col("max_tokens"),
            col("n_langs"), col("mean_quality_milli"), col("top_lang"),
            (col("top_n").cast("double") / col("n_docs")).as("top_lang_share"))
          .orderBy("source")
      },
      Some(s"""$tkCte,
        per AS (SELECT doc_id, source, lang, len(t) AS n_tok,
                ${qintSql(qualitySql("t"))} AS q_milli FROM tk),
        core AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                 CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
                 CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
                 CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(SUM(q_milli) AS DOUBLE) / COUNT(*) AS mean_quality_milli
                 FROM per GROUP BY source),
        dt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens
               FROM (SELECT DISTINCT source, UNNEST(t) AS tok FROM tk)
               GROUP BY source),
        sl AS (SELECT source, lang, COUNT(*) AS n FROM per
               GROUP BY source, lang),
        top AS (SELECT source, lang AS top_lang, n AS top_n FROM (
            SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY n DESC, lang) AS r FROM sl) WHERE r = 1)
        SELECT c.source, c.n_docs, c.n_tokens, d.n_distinct_tokens,
          c.min_tokens, c.max_tokens, c.n_langs, c.mean_quality_milli,
          t.top_lang, CAST(t.top_n AS DOUBLE) / c.n_docs AS top_lang_share
        FROM core c JOIN dt d USING (source) JOIN top t USING (source)
        ORDER BY c.source""")),

    // ── Quality-gate agreement audit — when a pipeline runs BOTH a
    //    heuristic quality gate (q32's stopword/length score) and an
    //    LM-perplexity gate (q227's CCNet-style bigram NLL), the first
    //    question is where they disagree: the per-source confusion matrix
    //    (both keep / heuristic-only / perplexity-only / neither) is the
    //    calibration table that decides whether the cheap heuristic can
    //    pre-filter for the expensive LM at 100 TB (heuristic-only and
    //    perplexity-only cells are the cost of that shortcut). Thresholds
    //    (quality ≥ 0.350, avg NLL ≤ 3400 milli-nats) were calibrated in
    //    DuckDB at all three SFs: every cell is populated at every SF
    //    (107/149/102/142 at sf0.01), so the 4-way mix require() is never
    //    vacuous. Exactness: both verdicts compare integers (qint quality
    //    vs 350; s ≤ thr·n in milli-nats). Scale: reuses lmPerDoc's
    //    vocab-keyed joins; the confusion agg is one groupBy(source) over
    //    per-doc bit pairs ──
    Q("q236_gate_agreement",
      (s, d) => {
        val qv = t(s, d, "documents")
          .select(col("doc_id"),
            qint(qualityCol(tokens(col("text")))).as("q_milli"))
        val v = lmPerDoc(s, d).join(qv, Seq("doc_id"))
          .select(col("source"),
            when(col("q_milli") >= 350, 1L).otherwise(0L).as("kq"),
            when(col("s") <= lit(3400L) * col("n"), 1L).otherwise(0L).as("kp"))
        val out = Caches.cached(v.groupBy("source").agg(
            sum(col("kq") * col("kp")).as("n_both"),
            sum(col("kq") * (lit(1L) - col("kp"))).as("n_quality_only"),
            sum((lit(1L) - col("kq")) * col("kp")).as("n_ppl_only"),
            sum((lit(1L) - col("kq")) * (lit(1L) - col("kp"))).as("n_neither"))
          .orderBy("source"))
        val mix = out.agg(sum("n_both"), sum("n_quality_only"),
          sum("n_ppl_only"), sum("n_neither")).head
        require((0 to 3).forall(mix.getLong(_) > 0),
          s"vacuous gate agreement: cells ${(0 to 3).map(mix.getLong)} — " +
            "every confusion cell must be populated (calibrated thresholds)")
        out
      },
      Some(s"""$tkCte,
        $lmPerDocSql,
        qv AS (SELECT doc_id, ${qintSql(qualitySql("t"))} AS q_milli FROM tk),
        v AS (SELECT p.source,
              CASE WHEN q.q_milli >= 350 THEN 1 ELSE 0 END AS kq,
              CASE WHEN p.s <= 3400 * p.n THEN 1 ELSE 0 END AS kp
              FROM perdoc p JOIN qv q USING (doc_id))
        SELECT source,
          CAST(SUM(kq * kp) AS BIGINT) AS n_both,
          CAST(SUM(kq * (1 - kp)) AS BIGINT) AS n_quality_only,
          CAST(SUM((1 - kq) * kp) AS BIGINT) AS n_ppl_only,
          CAST(SUM((1 - kq) * (1 - kp)) AS BIGINT) AS n_neither
        FROM v GROUP BY source ORDER BY source""")),

    // ── Canonical representative per near-dup cluster — the transform
    //    that turns q54's cluster REPORT into the curation decision: for
    //    every near-dup cluster (q54's LSH components; un-paired docs are
    //    their own singleton cluster, q225's convention) keep the
    //    HIGHEST-QUALITY member (q32's heuristic score, tie → min doc_id)
    //    — the survivor rule real corpus merges use, where q167's exact
    //    priority dedup only sees bit-identical copies. Output is the
    //    cluster → keeper manifest with the cluster size, so n_members−1
    //    is the per-cluster removal count. Non-vacuity: both a real
    //    multi-member cluster and a singleton must be present (the
    //    keeper rule and the pass-through are both exercised). Scale:
    //    edges are banded-LSH (never all-pairs), components converge in
    //    O(log diameter) rounds, the keeper is one map-side-combinable
    //    max_by per cluster ──
    Q("q239_cluster_canonical",
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
        val edges = lshPairs(docs).filter(col("est_sim") >= 0.5)
          .select("d1", "d2")
        val comp = graft.ops.Components.connectedComponents(edges, "d1", "d2")
          .withColumnRenamed("id", "doc_id")
        val q = docs.select(col("doc_id"), qint(qualityCol(col("t"))).as("q_milli"))
        val labeled = q.join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"),
            col("q_milli"))
        val out = Caches.cached(labeled.groupBy("cluster")
          .agg(count(lit(1)).as("n_members"),
            max_by(struct(col("doc_id"), col("q_milli")),
              struct(col("q_milli"), (-col("doc_id")).as("n"))).as("k"))
          .select(col("cluster"), col("k.doc_id").as("keeper"),
            col("k.q_milli").as("keeper_q_milli"), col("n_members"))
          .orderBy("cluster"))
        val mix = out.agg(
          sum(when(col("n_members") > 1, 1L).otherwise(0L)),
          sum(when(col("n_members") === 1, 1L).otherwise(0L))).head
        require(mix.getLong(0) > 0 && mix.getLong(1) > 0,
          s"vacuous canonicalization: ${mix.getLong(0)} multi-member / " +
            s"${mix.getLong(1)} singleton clusters — need both present")
        out
      },
      Some(s"""WITH RECURSIVE tk AS (SELECT doc_id, $toksSql AS t FROM documents),
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "g")},
        edges AS (SELECT d1, d2 FROM pairs_g WHERE est_sim >= 0.5),
        e2 AS (SELECT d1 AS a, d2 AS b FROM edges
               UNION ALL SELECT d2, d1 FROM edges),
        nodes AS (SELECT DISTINCT a AS id FROM e2),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e2.a, reach.r FROM e2 JOIN reach ON e2.b = reach.id),
        comp AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id),
        q AS (SELECT doc_id, ${qintSql(qualitySql("t"))} AS q_milli FROM tk),
        lab AS (SELECT q.doc_id, COALESCE(c.cluster, q.doc_id) AS cluster,
                q.q_milli FROM q LEFT JOIN comp c USING (doc_id)),
        k AS (SELECT cluster, doc_id AS keeper, q_milli AS keeper_q_milli
              FROM (SELECT *, row_number() OVER (PARTITION BY cluster
                ORDER BY q_milli DESC, doc_id) AS r FROM lab) WHERE r = 1),
        n AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members
              FROM lab GROUP BY 1)
        SELECT k.cluster, k.keeper, k.keeper_q_milli, n.n_members
        FROM k JOIN n USING (cluster) ORDER BY cluster""")),

    // ── CDF-maintained corpus statistics — q235's card kept fresh WITHOUT
    //    rescans: per-source (n_docs, n_tokens) counters maintained by the
    //    change feed as the source table mutates (initial load → insert
    //    batch → text edits → takedown deletes). The maintenance exploits
    //    that counts/sums are MERGEABLE aggregates: every CDF row carries a
    //    signed delta (+1 for insert/update_postimage, −1 for
    //    delete/update_preimage), so a batch's per-source delta is one
    //    groupBy — update pre/post pairs cancel exactly, no latest-image
    //    resolution, correct even if several commits land in one batch —
    //    merged into the stats table by key. Per-batch cost is O(changed
    //    rows); at 100 TB the stats stay current while the corpus is never
    //    rescanned (the q212 posture, pointed at aggregates instead of
    //    index rows). The oracle recomputes from the FINAL state: the hash
    //    match proves maintained ≡ recomputed through all three mutation
    //    kinds. The version require() pins that every drained commit
    //    produced a real maintenance merge ──
    Q("q241_cdf_stats_rollup",
      (s, d) => {
        val work = WorkDirs.workDir("graft_q241")
        val src = graft.lake.VersionedTable(s, s"$work/src", Seq("doc_id"),
          recordCdf = true)
        val stats = graft.lake.VersionedTable(s, s"$work/stats", Seq("source"))
        def drain(): Unit = {
          val q = src.readChangesStream()
            .writeStream
            .foreachBatch((b: DataFrame, _: Long) =>
              applyCdfStatsBatch(stats, b, "source"))
            .option("checkpointLocation", s"$work/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        val docs = t(s, d, "documents")
        src.overwrite(docs.filter(col("doc_id") % 10 =!= 7))        // v1: load
        drain()
        src.append(docs.filter(col("doc_id") % 10 === 7))           // v2: inserts
        drain()
        src.update(col("doc_id") % 7 === 3,                         // v3: edits
          Map("text" -> concat(col("text"), lit(" graft extra"))))
        drain()
        src.deleteMor(col("doc_id") % 13 === 5)                     // v4: takedown
        drain()
        require(stats.currentVersion == 4,
          s"every drained commit must produce one maintenance merge: " +
            s"stats at version ${stats.currentVersion}, expected 4")
        // a source whose rows ALL died keeps a legitimate 0-count row in
        // the maintained table, but the oracle recomputes from the final
        // state and has no row for it — publish only live sources so the
        // two stay hash-identical whatever the mutation mix wipes
        stats.read.filter(col("n_docs") > 0)
          .select(col("source"), col("n_docs"), col("n_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH fin AS (SELECT doc_id, source,
            CASE WHEN doc_id % 7 = 3 THEN text || ' graft extra'
                 ELSE text END AS text
          FROM documents WHERE doc_id % 13 <> 5),
        tk AS (SELECT source, $toksSql AS t FROM fin)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(t)) AS BIGINT) AS n_tokens
        FROM tk GROUP BY source ORDER BY source""")),

    // ── Curation-gate ablation — the table every dataset paper publishes:
    //    for each gate alone (heuristic quality ≥ 0.350, LM perplexity
    //    ≤ 3400 milli-nats, near-dup canonicalization = q239's
    //    highest-quality keeper per LSH cluster) and for ALL THREE
    //    composed, the documents and tokens surviving — the marginal-cost
    //    view that decides gate ordering at 100 TB (run the cheapest,
    //    most selective gate first). Every verdict reuses a shipped
    //    gate's exact rule (q236's thresholds, q239's keeper), computed
    //    once per doc and aggregated four ways — the corpus is scanned
    //    once per signal, never once per (gate × doc). The mix require()
    //    pins every arm non-vacuous: each gate keeps some and drops some,
    //    and the composed arm keeps no more than the tightest single
    //    gate ──
    Q("q244_gate_ablation",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
        val per = tk.select(col("doc_id"), size(col("t")).cast("long").as("ntok"),
          qint(qualityCol(col("t"))).as("q_milli"))
        val ppl = lmPerDoc(s, d)
          .select(col("doc_id"),
            when(col("s") <= lit(3400L) * col("n"), 1L).otherwise(0L).as("kp"))
        val edges = lshPairs(tk).filter(col("est_sim") >= 0.5).select("d1", "d2")
        val comp = graft.ops.Components.connectedComponents(edges, "d1", "d2")
          .withColumnRenamed("id", "doc_id")
        val labeled = per.join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"), col("ntok"), col("q_milli"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
        val wK = Window.partitionBy("cluster")
          .orderBy(col("q_milli").desc, col("doc_id"))
        val verdicts = graft.ops.Caches.cached(labeled
          .withColumn("kn",
            when(row_number().over(wK) === 1, 1L).otherwise(0L))
          .join(ppl, Seq("doc_id"))
          .withColumn("kq", when(col("q_milli") >= 350, 1L).otherwise(0L)))
        def arm(name: String, keep: Column) = verdicts
          .agg(sum(keep).as("n_docs_kept"),
            sum(keep * col("ntok")).as("n_tokens_kept"))
          .select(lit(name).as("gate"), col("n_docs_kept"), col("n_tokens_kept"))
        val out = graft.ops.Caches.cached(Seq(
          arm("all", col("kq") * col("kp") * col("kn")),
          arm("neardup", col("kn")),
          arm("perplexity", col("kp")),
          arm("quality", col("kq"))).reduce(_ unionByName _).orderBy("gate"))
        val rows = out.collect() // 4 rows — the ablation table itself
        val total = verdicts.count()
        val all = rows.find(_.getString(0) == "all").get.getLong(1)
        rows.foreach { r =>
          require(r.getLong(1) > 0 && r.getLong(1) < total,
            s"vacuous gate '${r.getString(0)}': kept ${r.getLong(1)}/$total")
        }
        require(all <= rows.map(_.getLong(1)).min,
          "the composed gate must keep no more than the tightest single gate")
        out
      },
      Some(s"""WITH RECURSIVE tk AS (SELECT doc_id, lang, source, text,
            $toksSql AS t FROM documents),
        $lmPerDocSql,
        sh AS (SELECT doc_id, $shSql AS sh FROM tk),
        shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        ${lshPairsSql("shf", "g")},
        edges AS (SELECT d1, d2 FROM pairs_g WHERE est_sim >= 0.5),
        e2 AS (SELECT d1 AS a, d2 AS b FROM edges
               UNION ALL SELECT d2, d1 FROM edges),
        nodes AS (SELECT DISTINCT a AS id FROM e2),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e2.a, reach.r FROM e2 JOIN reach ON e2.b = reach.id),
        comp AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id),
        pq AS (SELECT t.doc_id, len(t.t) AS ntok,
               ${qintSql(qualitySql("t.t"))} AS q_milli,
               COALESCE(c.cluster, t.doc_id) AS cluster
               FROM tk t LEFT JOIN comp c USING (doc_id)),
        pqk AS (SELECT doc_id, ntok, q_milli,
            CASE WHEN row_number() OVER (PARTITION BY cluster
              ORDER BY q_milli DESC, doc_id) = 1 THEN 1 ELSE 0 END AS kn
          FROM pq),
        v AS (SELECT pqk.doc_id, pqk.ntok,
            CASE WHEN pqk.q_milli >= 350 THEN 1 ELSE 0 END AS kq,
            CASE WHEN p.s <= 3400 * p.n THEN 1 ELSE 0 END AS kp,
            pqk.kn
          FROM pqk JOIN perdoc p USING (doc_id)),
        arms AS (
          SELECT 'all' AS gate, SUM(kq * kp * kn) AS dk,
                 SUM(kq * kp * kn * ntok) AS tkk FROM v
          UNION ALL SELECT 'neardup', SUM(kn), SUM(kn * ntok) FROM v
          UNION ALL SELECT 'perplexity', SUM(kp), SUM(kp * ntok) FROM v
          UNION ALL SELECT 'quality', SUM(kq), SUM(kq * ntok) FROM v)
        SELECT gate, CAST(dk AS BIGINT) AS n_docs_kept,
          CAST(tkk AS BIGINT) AS n_tokens_kept
        FROM arms ORDER BY gate""")),

    // ── Trained quality-classifier gate (VERDICT r17 #4) — the third
    //    standard curation signal (fastText-style learned classifier)
    //    beside the heuristic gate and the LM-perplexity gate: a
    //    multinomial naive-Bayes linear scorer over q112's hashed
    //    bag-of-words features, with integer milli-nat log-odds weights.
    //    Training labels are the HEURISTIC gate's verdicts on the
    //    doc_id ≡ 0 (mod 3) slice (the honest bootstrap a real pipeline
    //    uses when no human labels exist); weights are per-dim quantized
    //    log-odds (each ln floor(1000·ln+0.5)-quantized separately —
    //    q227's discipline — so the margin is pure BIGINT afterwards).
    //    Scoring is corpus-wide in ONE pass: the 16-dim feature counts
    //    join the 16-row weight table (driver-built, bounded like a
    //    codebook) and a doc keeps when its margin ≥ 0. Output is the
    //    THREE-WAY confusion matrix (classifier × heuristic × perplexity)
    //    with per-cell doc/token counts and the margin sum pinning the
    //    bit-exact integer margins; the mix require() demands all 8 cells
    //    populated (measured at every shipped SF before landing). Scale:
    //    features are one explode+groupBy, training reduces to ≤ 2·16
    //    bounded class-count rows, the gate is one broadcast equi-join —
    //    at 100 TB this is the cheapest of the three gates ──
    Q("q246_classifier_gate",
      (s, d) => {
        val dim = 16
        val tk = t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
        val qv = Caches.cached(tk.select(col("doc_id"),
          qint(qualityCol(col("t"))).as("q_milli")))
        val cnt = Caches.cached(tk
          .select(col("doc_id"), explode(col("t")).as("tok"))
          .select(col("doc_id"), (md5Int("fh:", col("tok")) % dim).as("dim"))
          .groupBy("doc_id", "dim").agg(count(lit(1)).as("v")))
        val lab = qv.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"),
            when(col("q_milli") >= 350, 1L).otherwise(0L).as("y"))
        // class-conditional token counts per hashed dim: ≤ 2·dim rows of
        // longs reach the driver — bounded model stats, the NB "codebook"
        val cls = cnt.join(lab, Seq("doc_id"))
          .groupBy("dim", "y").agg(sum("v").as("cv"))
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
        val nDocs = lab.groupBy("y").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val totP = (0L until dim).map(dd => cls.getOrElse((dd, 1L), 0L)).sum
        val totN = (0L until dim).map(dd => cls.getOrElse((dd, 0L), 0L)).sum
        // quantized log-likelihood in integer milli-nats — same single-ln
        // quantization as the perplexity gate, so both engines agree
        def qln(num: Long, den: Long): Long =
          math.floor(1000.0 * math.log(num.toDouble / den.toDouble) + 0.5).toLong
        val weights = (0L until dim).map { dd =>
          (dd, qln(cls.getOrElse((dd, 1L), 0L) + 1, totP + dim) -
            qln(cls.getOrElse((dd, 0L), 0L) + 1, totN + dim))
        }
        val np = nDocs.getOrElse(1L, 0L)
        val nn = nDocs.getOrElse(0L, 0L)
        val prior = qln(np + 1, np + nn + 2) - qln(nn + 1, np + nn + 2)
        import s.implicits._
        val wdf = weights.toDF("dim", "w") // 16 rows — LocalTableScan
        val margin = cnt.join(broadcast(wdf), Seq("dim"))
          .groupBy("doc_id")
          .agg((sum(col("v") * col("w")) + lit(prior)).as("margin"),
            sum("v").as("ntok"))
        val ppl = lmPerDoc(s, d)
          .select(col("doc_id"),
            when(col("s") <= lit(3400L) * col("n"), 1L).otherwise(0L).as("kp"))
        val v = margin
          .select(col("doc_id"),
            when(col("margin") >= 0, 1L).otherwise(0L).as("kc"),
            col("margin"), col("ntok"))
          .join(qv.select(col("doc_id"),
            when(col("q_milli") >= 350, 1L).otherwise(0L).as("kq")), Seq("doc_id"))
          .join(ppl, Seq("doc_id"))
        val out = Caches.cached(v.groupBy("kc", "kq", "kp")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
            sum("margin").as("margin_sum"))
          .orderBy("kc", "kq", "kp"))
        val rows = out.collect() // ≤ 8 rows — the confusion matrix itself
        require(rows.length == 8 && rows.forall(_.getLong(3) > 0),
          s"vacuous three-way gate agreement: ${rows.length}/8 cells " +
            "populated — thresholds must leave every cell non-empty")
        out
      },
      Some(s"""$tkCte,
        $lmPerDocSql,
        qv AS (SELECT doc_id, ${qintSql(qualitySql("t"))} AS q_milli FROM tk),
        ex AS (SELECT doc_id, unnest(t) AS tok FROM tk),
        cnt AS (SELECT doc_id, ${md5IntSql("fh:", "tok")} % 16 AS dim,
                COUNT(*) AS v
                FROM ex GROUP BY 1, 2),
        lab AS (SELECT doc_id, CASE WHEN q_milli >= 350 THEN 1 ELSE 0 END AS y
                FROM qv WHERE doc_id % 3 = 0),
        cls AS (SELECT c.dim, l.y, SUM(c.v) AS cv
                FROM cnt c JOIN lab l USING (doc_id) GROUP BY 1, 2),
        tots AS (SELECT y, SUM(cv) AS tot FROM cls GROUP BY 1),
        dims AS (SELECT unnest(range(0, 16)) AS dim),
        w AS (SELECT d.dim,
            CAST(floor(1000.0 * ln(CAST(COALESCE(p.cv, 0) + 1 AS DOUBLE)
              / CAST(COALESCE((SELECT tot FROM tots WHERE y = 1), 0) + 16
                AS DOUBLE))
              + 0.5) AS BIGINT)
            - CAST(floor(1000.0 * ln(CAST(COALESCE(n.cv, 0) + 1 AS DOUBLE)
              / CAST(COALESCE((SELECT tot FROM tots WHERE y = 0), 0) + 16
                AS DOUBLE))
              + 0.5) AS BIGINT) AS w
          FROM dims d
          LEFT JOIN cls p ON p.dim = d.dim AND p.y = 1
          LEFT JOIN cls n ON n.dim = d.dim AND n.y = 0),
        nd AS (SELECT COALESCE(SUM(y), 0) AS np,
               COUNT(*) - COALESCE(SUM(y), 0) AS nn FROM lab),
        prior AS (SELECT
            CAST(floor(1000.0 * ln(CAST(np + 1 AS DOUBLE) / (np + nn + 2))
              + 0.5) AS BIGINT)
          - CAST(floor(1000.0 * ln(CAST(nn + 1 AS DOUBLE) / (np + nn + 2))
              + 0.5) AS BIGINT) AS b
          FROM nd),
        margin AS (SELECT c.doc_id,
            (SELECT b FROM prior) + SUM(c.v * w.w) AS margin,
            SUM(c.v) AS ntok
          FROM cnt c JOIN w USING (dim) GROUP BY 1),
        v AS (SELECT m.doc_id,
            CASE WHEN m.margin >= 0 THEN 1 ELSE 0 END AS kc,
            CASE WHEN q.q_milli >= 350 THEN 1 ELSE 0 END AS kq,
            CASE WHEN p.s <= 3400 * p.n THEN 1 ELSE 0 END AS kp,
            m.margin, m.ntok
          FROM margin m JOIN qv q USING (doc_id) JOIN perdoc p USING (doc_id))
        SELECT CAST(kc AS BIGINT) AS kc, CAST(kq AS BIGINT) AS kq,
          CAST(kp AS BIGINT) AS kp,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(ntok) AS BIGINT) AS n_tokens,
          CAST(SUM(margin) AS BIGINT) AS margin_sum
        FROM v GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ── Tokenizer fertility per language (VERDICT r17 #7b) — the
    //    multilingual tokenizer-budget report: q220's trained-BPE token
    //    costs crossed with q67's marker-trigram language ID, so the
    //    number every multilingual data mix negotiates over (BPE tokens
    //    per word, by language) comes from the SHIPPED tokenizer and the
    //    SHIPPED language detector, not side estimates. Integer ppm
    //    ratios (exact in both engines). Scale: lang-ID is a codegen'd
    //    projection, the fertility join keys on the BOUNDED trained
    //    vocab (distinct corpus words), one groupBy per language —
    //    nothing here outgrows q220's own cost ──
    Q("q250_tokenizer_fertility",
      (s, d) => {
        val docs = t(s, d, "documents")
        val (_, finalVocab) = bpeTrain(bpeVocab(docs), 6)
        val ntok = finalVocab.select(col("w0"),
          size(split(trim(col("w")), "  ")).as("ntok"))
        def score(ms: Seq[String]) = ms.map(m =>
          expr(s"(length(lower(text)) - length(replace(lower(text), '$m', ''))) div 3"))
          .reduce(_ + _)
        val pred = docs.select(col("doc_id"), col("text"),
            score(Seq("the", "ing", "ion")).as("s_en"),
            score(Seq("der", "sch", "ein")).as("s_de"),
            score(Seq("les", "ent", "que")).as("s_fr"))
          .select(col("doc_id"), tokens(col("text")).as("t"),
            when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
              col("s_en") > 0, "en")
              .when(col("s_de") >= col("s_fr") && col("s_de") > 0, "de")
              .when(col("s_fr") > 0, "fr")
              .otherwise("unk").as("predicted"))
        val out = Caches.cached(pred
          .select(col("predicted"), explode(col("t")).as("w0"))
          .join(ntok, Seq("w0"))
          .groupBy("predicted")
          .agg(count(lit(1)).as("n_words"), sum("ntok").as("n_bpe_tokens"))
          .select(col("predicted"), col("n_words"), col("n_bpe_tokens"),
            expr("n_bpe_tokens * 1000000L DIV n_words").as("fertility_ppm"))
          .orderBy("predicted"))
        val langs = out.count()
        require(langs >= 3,
          s"vacuous fertility report: $langs predicted languages — the " +
            "detector must split the corpus for the per-language cross " +
            "to mean anything")
        out
      },
      Some(s"""$tkCte,
        ${bpeSql(6)},
        tokmap AS (SELECT w0, len(string_split(trim(w, ' '), '  ')) AS ntok
                   FROM e6),
        sc AS (SELECT doc_id,
          (length(lower(text)) - length(replace(lower(text), 'the', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ing', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ion', ''))) // 3 AS s_en,
          (length(lower(text)) - length(replace(lower(text), 'der', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'sch', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ein', ''))) // 3 AS s_de,
          (length(lower(text)) - length(replace(lower(text), 'les', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ent', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'que', ''))) // 3 AS s_fr
          FROM documents),
        pred AS (SELECT sc.doc_id,
            CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
                 WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                 WHEN s_fr > 0 THEN 'fr'
                 ELSE 'unk' END AS predicted
          FROM sc),
        wd AS (SELECT p.predicted, unnest(tk.t) AS w0
               FROM tk JOIN pred p USING (doc_id))
        SELECT predicted, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(ntok) AS BIGINT) AS n_bpe_tokens,
          CAST(SUM(ntok) * 1000000 // COUNT(*) AS BIGINT) AS fertility_ppm
        FROM wd JOIN tokmap USING (w0)
        GROUP BY predicted ORDER BY predicted""")),

    // ── The classifier gate at PRODUCTION width (VERDICT r18 #1): q246's
    //    multinomial-NB quality gate lifted from the D=16 demo to
    //    D=2^18 — q115's feature space, the fastText-style shape a real
    //    corpus gate runs at — as an in-entry capacity A/B against the
    //    D=16 model. The structural change production width forces: the
    //    class-conditional counts and the per-dim log-odds weights stay
    //    ENGINE-SIDE (at 2^18 dims "collect the model to a driver map" is
    //    no longer bounded-by-construction) — the weight table is a
    //    DataFrame joined back to the feature counts, a broadcast of
    //    ≤ |observed dims| rows (≤ distinct corpus tokens, ~500k at
    //    100 TB: fine to ship to executors, wrong to hold on the driver).
    //    Driver traffic is the CLASS totals only: one (totP, totN) row
    //    per width + two doc-count rows. A dim seen at scoring but never
    //    in training carries the constant unseen-dim weight
    //    w0 = qln(1, totP+D) − qln(1, totN+D) (Laplace at count 0) via
    //    left-join + coalesce — the sparse-model serving formulation.
    //    Both widths come from ONE tokenize+hash pass: 16 divides 2^18,
    //    so the D=16 counts are a REGROUP (dim % 16) of the wide ones.
    //    Calibration: q246's margin ≥ 0 cut degenerates at production
    //    width (measured at all three SFs: every margin is positive — the
    //    full-width model recovers its teacher almost exactly, so the
    //    8-cell three-way matrix is a D=16 collision ARTIFACT, recorded
    //    in PLANS.md). The production posture is a keep-rate-calibrated
    //    gate: keep the top half by score, cut as an EXACT order
    //    statistic via margin-histogram + cumulative count over the
    //    aggregated distinct-margin spine (no corpus global sort — the
    //    no-partition window's input is the histogram, q147's discipline)
    //    with ties at the boundary margin resolved by doc_id rank within
    //    that margin only. The require()s pin what IS structural: both
    //    widths disagree with the teacher somewhere, the wide gate's
    //    teacher agreement is ≥ 0.9 and ≥ the narrow gate's (capacity
    //    monotonicity — measured 96-98% vs 52-60% at all three SFs), and
    //    the two heuristic gates stay mutually non-vacuous ──
    Q("q251_classifier_gate_wide",
      (s, d) => {
        val wide = 1 << 18
        val tk = t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
        val qv = Caches.cached(tk.select(col("doc_id"),
          qint(qualityCol(col("t"))).as("q_milli")))
        val cnt = Caches.cached(tk
          .select(col("doc_id"), explode(col("t")).as("tok"))
          .select(col("doc_id"), (md5Int("fh:", col("tok")) % wide).as("dim"))
          .groupBy("doc_id", "dim").agg(count(lit(1)).as("v")))
        val cnt16 = cnt.groupBy(col("doc_id"), (col("dim") % 16).as("dim"))
          .agg(sum("v").as("v"))
        val lab = qv.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"),
            when(col("q_milli") >= 350, 1L).otherwise(0L).as("y"))
        val nDocs = lab.groupBy("y").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        def qln(num: Long, den: Long): Long =
          math.floor(1000.0 * math.log(num.toDouble / den.toDouble) + 0.5).toLong
        val np = nDocs.getOrElse(1L, 0L)
        val nn = nDocs.getOrElse(0L, 0L)
        val prior = qln(np + 1, np + nn + 2) - qln(nn + 1, np + nn + 2)
        def qlnC(num: Column, den: Long): Column =
          floor(lit(1000.0) * log(num.cast("double") / lit(den.toDouble))
            + lit(0.5)).cast("long")
        // NB margins at width `dim`, model engine-side end to end
        def marginOf(cnts: DataFrame, dim: Int): DataFrame = {
          val cls = cnts.join(lab, Seq("doc_id"))
            .groupBy("dim")
            .agg(sum(when(col("y") === 1, col("v")).otherwise(0L)).as("cp"),
              sum(when(col("y") === 0, col("v")).otherwise(0L)).as("cn"))
          // ONLY the bounded class totals reach the driver: 1 row
          val totRow = cls.agg(
            coalesce(sum("cp"), lit(0L)), coalesce(sum("cn"), lit(0L))).head
          val (totP, totN) = (totRow.getLong(0), totRow.getLong(1))
          val w0 = qln(1, totP + dim) - qln(1, totN + dim)
          val wdf = cls.select(col("dim"),
            (qlnC(col("cp") + 1, totP + dim)
              - qlnC(col("cn") + 1, totN + dim)).as("w"))
          cnts.join(broadcast(wdf), Seq("dim"), "left")
            .select(col("doc_id"), col("v"),
              coalesce(col("w"), lit(w0)).as("w"))
            .groupBy("doc_id")
            .agg((sum(col("v") * col("w")) + lit(prior)).as("margin"),
              sum("v").as("ntok"))
        }
        // exact top-half cut, no corpus global sort: histogram the integer
        // margins, cumulate over the DISTINCT-margin spine (no-partition
        // window over aggregated input — lint-bounded), break boundary
        // ties by doc_id rank WITHIN the boundary margin value
        def keepTopHalf(m: DataFrame): DataFrame = {
          val mC = Caches.cached(m)
          val k = mC.count() / 2
          val hist = mC.groupBy("margin").agg(count(lit(1)).as("c"))
          val cum = hist
            .withColumn("above",
              sum("c").over(Window.orderBy(col("margin").desc)) - col("c"))
            .select("margin", "above")
          val wTie = Window.partitionBy("margin").orderBy("doc_id")
          mC.join(cum, Seq("margin"))
            .withColumn("r", row_number().over(wTie))
            .select(col("doc_id"), col("margin"), col("ntok"),
              when(col("above") + col("r") <= k, 1L).otherwise(0L).as("kc"))
        }
        val ppl = lmPerDoc(s, d)
          .select(col("doc_id"),
            when(col("s") <= lit(3400L) * col("n"), 1L).otherwise(0L).as("kp"))
        val heur = qv.select(col("doc_id"),
          when(col("q_milli") >= 350, 1L).otherwise(0L).as("kq"))
          .join(ppl, Seq("doc_id"))
        def arm(width: Int, cnts: DataFrame): DataFrame =
          keepTopHalf(marginOf(cnts, width))
            .join(heur, Seq("doc_id"))
            .select(lit(width.toLong).as("width"), col("doc_id"), col("kc"),
              col("kq"), col("kp"), col("margin"), col("ntok"))
        val v = arm(wide, cnt).unionByName(arm(16, cnt16))
        val out = Caches.cached(v.groupBy("width", "kc", "kq", "kp")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
            sum("margin").as("margin_sum"))
          .orderBy("width", "kc", "kq", "kp"))
        val cells = out.collect() // ≤ 32 rows — the confusion cells
        def agreePpm(w: Long): Long = {
          val mine = cells.filter(_.getLong(0) == w)
          val tot = mine.map(_.getLong(4)).sum
          val agr = mine.filter(r => r.getLong(1) == r.getLong(2))
            .map(_.getLong(4)).sum
          agr * 1000000L / tot
        }
        val (aw, an) = (agreePpm(wide.toLong), agreePpm(16L))
        require(cells.filter(r => r.getLong(1) != r.getLong(2))
            .groupBy(_.getLong(0)).size == 2,
          "both widths must disagree with the teacher somewhere — a gate " +
            "that IS its teacher proves nothing about learning")
        require(cells.map(r => (r.getLong(2), r.getLong(3))).distinct.length == 4,
          "the two heuristic gates must stay mutually non-vacuous (all " +
            "four (kq,kp) combinations populated)")
        require(aw >= 900000 && aw >= an,
          s"capacity monotonicity broken: wide-gate teacher agreement " +
            s"$aw ppm must be >= 900000 and >= the narrow gate's $an ppm")
        out
      },
      Some {
        def nbSql(sfx: String, dim: Long, cntCte: String): String =
          s"""cls$sfx AS (SELECT c.dim,
             |    SUM(CASE WHEN l.y = 1 THEN c.v ELSE 0 END) AS cp,
             |    SUM(CASE WHEN l.y = 0 THEN c.v ELSE 0 END) AS cn
             |  FROM $cntCte c JOIN lab l USING (doc_id) GROUP BY 1),
             |tots$sfx AS (SELECT COALESCE(SUM(cp), 0) AS totp,
             |  COALESCE(SUM(cn), 0) AS totn FROM cls$sfx),
             |w$sfx AS (SELECT dim,
             |    CAST(floor(1000.0 * ln(CAST(cp + 1 AS DOUBLE)
             |      / CAST((SELECT totp FROM tots$sfx) + $dim AS DOUBLE))
             |      + 0.5) AS BIGINT)
             |  - CAST(floor(1000.0 * ln(CAST(cn + 1 AS DOUBLE)
             |      / CAST((SELECT totn FROM tots$sfx) + $dim AS DOUBLE))
             |      + 0.5) AS BIGINT) AS w
             |  FROM cls$sfx),
             |w0$sfx AS (SELECT
             |    CAST(floor(1000.0 * ln(1.0
             |      / CAST((SELECT totp FROM tots$sfx) + $dim AS DOUBLE))
             |      + 0.5) AS BIGINT)
             |  - CAST(floor(1000.0 * ln(1.0
             |      / CAST((SELECT totn FROM tots$sfx) + $dim AS DOUBLE))
             |      + 0.5) AS BIGINT) AS w0),
             |margin$sfx AS (SELECT c.doc_id,
             |    (SELECT b FROM prior)
             |      + SUM(c.v * COALESCE(w.w, (SELECT w0 FROM w0$sfx))) AS margin,
             |    SUM(c.v) AS ntok
             |  FROM $cntCte c LEFT JOIN w$sfx w USING (dim) GROUP BY 1),
             |hist$sfx AS (SELECT margin, COUNT(*) AS c FROM margin$sfx
             |  GROUP BY 1),
             |cum$sfx AS (SELECT margin,
             |    SUM(c) OVER (ORDER BY margin DESC) - c AS above
             |  FROM hist$sfx),
             |kc$sfx AS (SELECT m.doc_id, m.margin, m.ntok,
             |    CASE WHEN u.above + row_number() OVER (
             |        PARTITION BY m.margin ORDER BY m.doc_id)
             |      <= (SELECT COUNT(*) FROM margin$sfx) // 2
             |    THEN 1 ELSE 0 END AS kc
             |  FROM margin$sfx m JOIN cum$sfx u USING (margin))""".stripMargin
        s"""$tkCte,
        $lmPerDocSql,
        qv AS (SELECT doc_id, ${qintSql(qualitySql("t"))} AS q_milli FROM tk),
        ex AS (SELECT doc_id, unnest(t) AS tok FROM tk),
        -- MATERIALIZED: cnt is referenced 3x (cnt16, nbSql W, marginW) and
        -- cnt16 2x — DuckDB inlines multiply-referenced CTEs, re-running
        -- the whole tokenize+hash chain per reference (the sf0.1 OOM/fd
        -- lesson recorded in PLANS.md for the ANN/unigram chains)
        cnt AS MATERIALIZED (SELECT doc_id,
                ${md5IntSql("fh:", "tok")} % ${1 << 18} AS dim,
                COUNT(*) AS v
                FROM ex GROUP BY 1, 2),
        cnt16 AS MATERIALIZED (SELECT doc_id, dim % 16 AS dim, SUM(v) AS v
                  FROM cnt GROUP BY 1, 2),
        lab AS (SELECT doc_id, CASE WHEN q_milli >= 350 THEN 1 ELSE 0 END AS y
                FROM qv WHERE doc_id % 3 = 0),
        nd AS (SELECT COALESCE(SUM(y), 0) AS np,
               COUNT(*) - COALESCE(SUM(y), 0) AS nn FROM lab),
        prior AS (SELECT
            CAST(floor(1000.0 * ln(CAST(np + 1 AS DOUBLE) / (np + nn + 2))
              + 0.5) AS BIGINT)
          - CAST(floor(1000.0 * ln(CAST(nn + 1 AS DOUBLE) / (np + nn + 2))
              + 0.5) AS BIGINT) AS b
          FROM nd),
        ${nbSql("W", 1L << 18, "cnt")},
        ${nbSql("N", 16L, "cnt16")},
        heur AS (SELECT q.doc_id,
            CASE WHEN q.q_milli >= 350 THEN 1 ELSE 0 END AS kq,
            CASE WHEN p.s <= 3400 * p.n THEN 1 ELSE 0 END AS kp
          FROM qv q JOIN perdoc p USING (doc_id)),
        v AS (SELECT ${1 << 18} AS width, k.doc_id, k.kc, h.kq, h.kp,
                k.margin, k.ntok
              FROM kcW k JOIN heur h USING (doc_id)
              UNION ALL
              SELECT 16, k.doc_id, k.kc, h.kq, h.kp, k.margin, k.ntok
              FROM kcN k JOIN heur h USING (doc_id))
        SELECT CAST(width AS BIGINT) AS width, CAST(kc AS BIGINT) AS kc,
          CAST(kq AS BIGINT) AS kq, CAST(kp AS BIGINT) AS kp,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(ntok) AS BIGINT) AS n_tokens,
          CAST(SUM(margin) AS BIGINT) AS margin_sum
        FROM v GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin
      }),

    // ── The unigram-LM tokenizer TRAINER (VERDICT r18 #3) — the second
    //    tokenizer family beside BPE (q217): SentencePiece-style
    //    (Kudo 2018) with hard-EM Viterbi E-steps and integer milli-nat
    //    piece costs (q227's quantization discipline, so both engines
    //    run bit-identical DP). Seed = all single chars + the top-64
    //    frequency-weighted substrings (len ≤ 3); two EM rounds
    //    re-estimate Laplace-smoothed costs from Viterbi usage; the EM
    //    prune keeps the top-32 multi-char survivors by usage (chars
    //    never pruned — the coverage guarantee); output is the final
    //    model with its usage. The oracle unrolls each Viterbi E-step to
    //    a fixed 12-position DP + backtrack CTE chain (sound because the
    //    trainer require()s no longer word exists), prototyped
    //    bit-identical against a plain-python reference at all three
    //    SFs. Scale: model state is ≤ 64 + |alphabet| rows (bounded
    //    codebook metadata); E-steps run distributed over the word VOCAB
    //    (corpus rows never touched) — q217's exact posture ──
    Q("q253_unigram_trainer",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val vocab = bpeVocab(t(s, d, "documents")).select("w0", "freq")
        val (rows, _) = uniTrain(vocab)
        require(rows.exists(r => r._1.length > 1 && r._2 > 0) &&
            rows.exists(_._2 == 0),
          "vacuous EM: need at least one USED multi-char piece (the " +
            "tokenizer learned something) and one unused survivor (the " +
            "Laplace floor is exercised)")
        rows.toDF("piece", "usage", "cost_milli").orderBy("piece")
      },
      Some(s"""$tkCte,
        ${uniSql()}
        SELECT m.piece, CAST(COALESCE(u.u, 0) AS BIGINT) AS usage,
          CAST(m.cost AS BIGINT) AS cost_milli
        FROM um2 m LEFT JOIN use3 u USING (piece) ORDER BY m.piece""")),

    // ── Tokenizer SELECTION — the decision q250's fertility report
    //    exists to inform, now with two trained families to choose from:
    //    per detected language (q67's marker-trigram ID), the fertility
    //    of the trained BPE (q217, 6 merges) vs the trained unigram-LM
    //    (q253), in exact integer ppm, with the per-language winner
    //    under the total order (fewer tokens wins, ties explicit). Both
    //    tokenizers segment the VOCAB once; the corpus joins word →
    //    token-count per family — one equi-join, no per-row tokenizer
    //    calls (q220's posture, doubled). ──
    Q("q254_tokenizer_select",
      (s, d) => {
        val docs = t(s, d, "documents")
        val vocab = bpeVocab(docs)
        val (_, finalVocab) = bpeTrain(vocab, 6)
        val bpeNtok = finalVocab.select(col("w0"),
          size(split(trim(col("w")), "  ")).cast("long").as("ntok_bpe"))
        val (_, uniCost) = uniTrain(vocab.select("w0", "freq"))
        val sp = s
        import sp.implicits._
        val uniNtok = vocab.select("w0").as[String]
          .map(w => (w, uniSegment(w, uniCost)._2.length.toLong))
          .toDF("w0", "ntok_uni")
        def score(ms: Seq[String]) = ms.map(m =>
          expr(s"(length(lower(text)) - length(replace(lower(text), '$m', ''))) div 3"))
          .reduce(_ + _)
        val pred = docs.select(col("doc_id"), col("text"),
            score(Seq("the", "ing", "ion")).as("s_en"),
            score(Seq("der", "sch", "ein")).as("s_de"),
            score(Seq("les", "ent", "que")).as("s_fr"))
          .select(col("doc_id"), tokens(col("text")).as("t"),
            when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
              col("s_en") > 0, "en")
              .when(col("s_de") >= col("s_fr") && col("s_de") > 0, "de")
              .when(col("s_fr") > 0, "fr")
              .otherwise("unk").as("predicted"))
        val out = Caches.cached(pred
          .select(col("predicted"), explode(col("t")).as("w0"))
          .join(bpeNtok, Seq("w0")).join(uniNtok, Seq("w0"))
          .groupBy("predicted")
          .agg(count(lit(1)).as("n_words"),
            sum("ntok_bpe").as("n_bpe_tokens"),
            sum("ntok_uni").as("n_uni_tokens"))
          .select(col("predicted"), col("n_words"), col("n_bpe_tokens"),
            col("n_uni_tokens"),
            expr("n_bpe_tokens * 1000000L DIV n_words").as("bpe_fertility_ppm"),
            expr("n_uni_tokens * 1000000L DIV n_words").as("uni_fertility_ppm"),
            when(col("n_bpe_tokens") < col("n_uni_tokens"), "bpe")
              .when(col("n_uni_tokens") < col("n_bpe_tokens"), "unigram")
              .otherwise("tie").as("winner"))
          .orderBy("predicted"))
        val rows = out.collect() // ≤ 4 language rows — the report itself
        require(rows.length >= 3,
          s"vacuous selection: ${rows.length} predicted languages — the " +
            "detector must split the corpus for per-language selection " +
            "to mean anything")
        require(rows.exists(_.getString(6) != "tie"),
          "vacuous A/B: the two tokenizer families tie in every " +
            "language — the selection discriminates nothing")
        out
      },
      Some {
        val uniSteps = (1 to UniMaxW).map(k =>
          s"SELECT w0, piece FROM st3_$k").mkString(" UNION ALL ")
        s"""$tkCte,
        ${bpeSql(6)},
        ${uniSql()},
        tokmap AS (SELECT w0, len(string_split(trim(w, ' '), '  ')) AS ntok
                   FROM e6),
        unt AS (SELECT w0, COUNT(*) AS ntok FROM ($uniSteps) GROUP BY 1),
        sc AS (SELECT doc_id,
          (length(lower(text)) - length(replace(lower(text), 'the', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ing', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ion', ''))) // 3 AS s_en,
          (length(lower(text)) - length(replace(lower(text), 'der', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'sch', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ein', ''))) // 3 AS s_de,
          (length(lower(text)) - length(replace(lower(text), 'les', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'ent', ''))) // 3
            + (length(lower(text)) - length(replace(lower(text), 'que', ''))) // 3 AS s_fr
          FROM documents),
        pred AS (SELECT sc.doc_id,
            CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
                 WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                 WHEN s_fr > 0 THEN 'fr'
                 ELSE 'unk' END AS predicted
          FROM sc),
        wd AS (SELECT p.predicted, unnest(tk.t) AS w0
               FROM tk JOIN pred p USING (doc_id))
        SELECT predicted, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(tm.ntok) AS BIGINT) AS n_bpe_tokens,
          CAST(SUM(un.ntok) AS BIGINT) AS n_uni_tokens,
          CAST(SUM(tm.ntok) * 1000000 // COUNT(*) AS BIGINT)
            AS bpe_fertility_ppm,
          CAST(SUM(un.ntok) * 1000000 // COUNT(*) AS BIGINT)
            AS uni_fertility_ppm,
          CASE WHEN SUM(tm.ntok) < SUM(un.ntok) THEN 'bpe'
               WHEN SUM(un.ntok) < SUM(tm.ntok) THEN 'unigram'
               ELSE 'tie' END AS winner
        FROM wd JOIN tokmap tm USING (w0) JOIN unt un USING (w0)
        GROUP BY predicted ORDER BY predicted"""
      }),

    // ── URL/domain blocklist gate (VERDICT r18 #7a) — the classic FIRST
    //    C4 filter, run before any content-based gate because it needs no
    //    text analysis: a curated domain blocklist kills whole sources, a
    //    path-pattern leg kills individual documents inside surviving
    //    domains (the porn/spam-URL regex analog — here the deterministic
    //    doc_id % 13 stand-in, the same honest synthetic-data posture as
    //    q249's engineered leakage). Output is the per-domain keep report
    //    (docs, tokens, which leg fired, exact keep ppm) — the number a
    //    mix negotiation starts from. Scale: ONE scan, one map-combined
    //    groupBy(source); the blocklist is a literal (at 100 TB: a
    //    broadcast lookup table) — nothing here touches a shuffle wider
    //    than the domain count ──
    Q("q257_domain_blocklist",
      (s, d) => {
        val block = Seq("src3", "src7", "src13")
        val docs = t(s, d, "documents")
          .select(col("source"), col("doc_id"),
            size(tokens(col("text"))).cast("long").as("ntok"))
          .withColumn("hit_domain",
            when(col("source").isin(block: _*), 1L).otherwise(0L))
          .withColumn("hit_path",
            when(col("doc_id") % 13 === 0, 1L).otherwise(0L))
          .withColumn("kept",
            when(col("hit_domain") === 0 && col("hit_path") === 0, 1L)
              .otherwise(0L))
        val out = Caches.cached(docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
            max("hit_domain").as("blocked_domain"),
            sum("hit_path").as("n_blocked_path"),
            sum("kept").as("n_kept"),
            sum(col("kept") * col("ntok")).as("n_tokens_kept"))
          .withColumn("keep_ppm", expr("n_kept * 1000000L DIV n_docs"))
          .orderBy("source"))
        val mix = out.agg(
          sum(when(col("blocked_domain") === 1, 1L).otherwise(0L)),
          sum(when(col("blocked_domain") === 0 && col("n_blocked_path") > 0,
            1L).otherwise(0L)),
          sum("n_kept")).head
        require(mix.getLong(0) > 0 && mix.getLong(1) > 0 && mix.getLong(2) > 0,
          s"vacuous blocklist gate: domains_blocked=${mix.getLong(0)} " +
            s"path_blocked_elsewhere=${mix.getLong(1)} kept=${mix.getLong(2)}" +
            " — every leg must fire and survivors must exist")
        out
      },
      Some(s"""$tkCte
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(t)) AS BIGINT) AS n_tokens,
          CAST(MAX(CASE WHEN source IN ('src3', 'src7', 'src13')
            THEN 1 ELSE 0 END) AS BIGINT) AS blocked_domain,
          CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_blocked_path,
          CAST(SUM(CASE WHEN source NOT IN ('src3', 'src7', 'src13')
            AND doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN source NOT IN ('src3', 'src7', 'src13')
            AND doc_id % 13 <> 0 THEN len(t) ELSE 0 END) AS BIGINT)
            AS n_tokens_kept,
          CAST(SUM(CASE WHEN source NOT IN ('src3', 'src7', 'src13')
            AND doc_id % 13 <> 0 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
            AS BIGINT) AS keep_ppm
        FROM tk GROUP BY source ORDER BY source""")),

    // ── URL/source canonicalization dedup — the C4-style stage BEFORE
    //    content dedup (VERDICT r19 #5): crawl URLs arrive in variant
    //    spellings (scheme/host case, www., default :443 port, trailing
    //    slash, tracking params, fragments) and the SAME resource must
    //    collapse to one canonical key without touching document bytes.
    //    URLs are SYNTHESIZED deterministically from (doc_id) with the
    //    variant class keyed to doc_id/50 — so docs sharing (host, path)
    //    arrive under DIFFERENT variants and the collapse is provably the
    //    canonicalizer's work, not exact-string dedup (require()d: every
    //    group stat is measured, ≥ 1 collapsed group mixes distinct raw
    //    urls AND distinct sources, so the q167 priority rule is
    //    exercised). Canonicalization is a pure codegen'd projection
    //    (lower → strip fragment → split query → drop scheme/www./:443 →
    //    strip trailing slash → sort non-tracking params); dedup is ONE
    //    keyed window bounded by the duplicate count of one canonical
    //    url, never corpus size. Output: per-source collapse report ──
    Q("q261_url_canonical_dedup",
      (s, d) => {
        val n7 = col("doc_id") % 7
        val n50 = col("doc_id") % 50
        val urlCol = when(expr("(doc_id div 50) % 5") === 0,
            concat(lit("https://example"), n7, lit(".com/p/"), n50))
          .when(expr("(doc_id div 50) % 5") === 1,
            concat(lit("HTTPS://EXAMPLE"), n7, lit(".COM/p/"), n50, lit("/")))
          .when(expr("(doc_id div 50) % 5") === 2,
            concat(lit("https://www.example"), n7, lit(".com/p/"), n50,
              lit("?utm_source=feed&ref=r"), col("doc_id") % 4))
          .when(expr("(doc_id div 50) % 5") === 3,
            concat(lit("https://example"), n7, lit(".com:443/p/"), n50,
              lit("#sec"), col("doc_id") % 3))
          .otherwise(
            concat(lit("http://example"), n7, lit(".com/p/"), n50,
              lit("?b=2&a=1")))
        val u = t(s, d, "documents").select(col("doc_id"), col("source"))
          .withColumn("url", urlCol)
          .withColumn("nofrag", regexp_replace(lower(col("url")), "#.*$", ""))
        val base = regexp_replace(col("nofrag"), "\\?.*$", "")
        val qs = regexp_extract(col("nofrag"), "\\?(.*)$", 1)
        val hostPath = regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(base, "^https?://", ""), "^www\\.", ""),
              ":443/", "/"),
            ":80/", "/"),
          "/$", "")
        val params = array_join(array_sort(filter(split(qs, "&"),
          p => p =!= "" && !p.startsWith("utm_") && !p.startsWith("ref="))),
          "&")
        val canon = u.withColumn("curl",
          concat(hostPath,
            when(params =!= "", concat(lit("?"), params)).otherwise(lit(""))))
        val w = Window.partitionBy("curl")
          .orderBy(length(col("source")).desc, col("source"), col("doc_id"))
        val kept = Caches.cached(canon.withColumn("r", row_number().over(w)))
        // group audit: the collapse must be canonicalization's work —
        // ≥ 1 group with ≥ 2 distinct RAW urls (a pure exact-string dedup
        // would find nothing to merge there) and ≥ 2 distinct sources
        // (the priority rule decides a real contest). 1-row aggregate.
        val audit = kept.groupBy("curl")
          .agg(count(lit(1)).as("n"), countDistinct(col("url")).as("nraw"),
            countDistinct(col("source")).as("nsrc"))
          .agg(sum(col("n") - 1).as("collapsed"),
            sum(when(col("nraw") >= 2, 1L).otherwise(0L)).as("raw_differ"),
            sum(when(col("nsrc") >= 2, 1L).otherwise(0L)).as("multi_src"))
          .head
        require(audit.getLong(0) > 0 && audit.getLong(1) > 0 &&
            audit.getLong(2) > 0,
          s"vacuous url dedup: collapsed=${audit.getLong(0)} " +
            s"raw_differ_groups=${audit.getLong(1)} " +
            s"multi_source_groups=${audit.getLong(2)} — the canonicalizer " +
            "and the priority rule must both do real work")
        kept.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("r") === 1, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("r") === 1, col("doc_id")).otherwise(0L))
              .as("kept_id_sum"))
          .withColumn("collapse_ppm",
            expr("(n_docs - n_kept) * 1000000L DIV n_docs"))
          .select("source", "n_docs", "n_kept", "collapse_ppm", "kept_id_sum")
          .orderBy("source")
      },
      Some(s"""WITH u AS (SELECT doc_id, source,
          CASE (doc_id // 50) % 5
            WHEN 0 THEN 'https://example' || CAST(doc_id % 7 AS VARCHAR)
              || '.com/p/' || CAST(doc_id % 50 AS VARCHAR)
            WHEN 1 THEN 'HTTPS://EXAMPLE' || CAST(doc_id % 7 AS VARCHAR)
              || '.COM/p/' || CAST(doc_id % 50 AS VARCHAR) || '/'
            WHEN 2 THEN 'https://www.example' || CAST(doc_id % 7 AS VARCHAR)
              || '.com/p/' || CAST(doc_id % 50 AS VARCHAR)
              || '?utm_source=feed&ref=r' || CAST(doc_id % 4 AS VARCHAR)
            WHEN 3 THEN 'https://example' || CAST(doc_id % 7 AS VARCHAR)
              || '.com:443/p/' || CAST(doc_id % 50 AS VARCHAR)
              || '#sec' || CAST(doc_id % 3 AS VARCHAR)
            ELSE 'http://example' || CAST(doc_id % 7 AS VARCHAR)
              || '.com/p/' || CAST(doc_id % 50 AS VARCHAR) || '?b=2&a=1'
          END AS url
        FROM documents),
        c0 AS (SELECT doc_id, source, url,
            regexp_replace(lower(url), '#.*$$', '') AS nofrag FROM u),
        c1 AS (SELECT *, regexp_replace(nofrag, '\\?.*$$', '') AS base,
            regexp_extract(nofrag, '\\?(.*)$$', 1) AS qs FROM c0),
        c2 AS (SELECT doc_id, source, url,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(base, '^https?://', ''), '^www\\.', ''),
              ':443/', '/'), ':80/', '/'), '/$$', '') AS host_path,
            array_to_string(list_sort(list_filter(string_split(qs, '&'),
              p -> p <> '' AND NOT starts_with(p, 'utm_')
                AND NOT starts_with(p, 'ref='))), '&') AS params
          FROM c1),
        canon AS (SELECT doc_id, source,
            host_path || CASE WHEN params <> '' THEN '?' || params
              ELSE '' END AS curl
          FROM c2),
        keep AS (SELECT *, row_number() OVER (PARTITION BY curl
            ORDER BY length(source) DESC, source, doc_id) AS r FROM canon)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST((COUNT(*) - SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END))
            * 1000000 // COUNT(*) AS BIGINT) AS collapse_ppm,
          CAST(SUM(CASE WHEN r = 1 THEN doc_id ELSE 0 END) AS BIGINT)
            AS kept_id_sum
        FROM keep GROUP BY source ORDER BY source""")),

    // ── Repetition/epoch accounting (VERDICT r19 #6) — the datasheet
    //    column a training run publishes: over a 3-epoch schedule where
    //    EACH epoch re-runs the q148 budgeted mixture under an
    //    epoch-salted hash order (so epochs pick overlapping-but-
    //    different doc subsets), report per (source, k) how many docs
    //    and tokens were seen exactly k times — "how many effective
    //    epochs is each domain getting". Pure integer arithmetic over
    //    the mixture manifests: the per-(source, epoch) running token
    //    sum is q148's TWO-LEVEL bucketed prefix sum (no single task
    //    ever owns a whole source), k is one groupBy over (doc, epoch)
    //    picks, the report one more — nothing driver-side, nothing
    //    quadratic. The oracle recomputes all three mixtures with plain
    //    windows; require()s pin the full k range 0..3 (the schedule
    //    must both repeat docs and rotate them) ──
    Q("q262_epoch_repetition",
      (s, d) => {
        val cap = when(col("source").isin("src0", "src1", "src2", "src3",
            "src4"), 3000L)
          .when(col("source").isin("src5", "src6", "src7", "src8", "src9"),
            1500L)
          .otherwise(500L)
        val tk = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast("long").as("n_tok"))
          .withColumn("epoch", explode(array(lit(0L), lit(1L), lit(2L))))
          .withColumn("__h", md5Int("mix", concat(col("epoch").cast("string"),
            lit(":"), col("doc_id").cast("string"))))
          .withColumn("pe", concat_ws("#", col("source"), col("epoch")))
        val picked = bucketedCumsum(tk, "pe",
            (col("__h") / lit(1L << 27)).cast("long"),
            Seq(col("__h"), col("doc_id")), "n_tok", "cum")
          .select(col("doc_id"), col("source"), col("n_tok"),
            when(col("cum") <= cap, 1L).otherwise(0L).as("sel"))
        val perDoc = picked.groupBy("doc_id", "source", "n_tok")
          .agg(sum("sel").as("k"))
        val out = Caches.cached(perDoc.groupBy("source", "k")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_total"))
          .orderBy("source", "k"))
        val ks = out.select("k").distinct().collect()
          .map(_.getLong(0)).sorted.toSeq // ≤ 4 rows — bounded metadata
        require(ks == Seq(0L, 1L, 2L, 3L),
          s"vacuous epoch schedule: k values $ks — the salted mixtures " +
            "must both repeat docs (k=3) and rotate them (k=0..2)")
        out
      },
      Some(s"""$tkCte,
        n AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tok FROM tk),
        ep AS (SELECT unnest(range(0, 3)) AS epoch),
        c AS (SELECT n.doc_id, n.source, n.n_tok, ep.epoch,
            SUM(n_tok) OVER (PARTITION BY source, epoch
              ORDER BY ${md5IntSql("mix",
                "CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")},
                doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM n CROSS JOIN ep),
        k AS (SELECT doc_id, source, n_tok,
            SUM(CASE WHEN cum <= (CASE
                WHEN source IN ('src0','src1','src2','src3','src4') THEN 3000
                WHEN source IN ('src5','src6','src7','src8','src9') THEN 1500
                ELSE 500 END) THEN 1 ELSE 0 END) AS k
          FROM c GROUP BY 1, 2, 3)
        SELECT source, CAST(k AS BIGINT) AS k,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS tok_total
        FROM k GROUP BY 1, 2 ORDER BY 1, 2"""))
  )

  /** One CDF-batch step of q241's mergeable-counter stats maintenance,
    * shared with MergeableStatsSpec (so the property test drives the
    * EXACT shipped code): every change row is a signed delta (+1 for
    * insert/update_postimage, −1 for delete/update_preimage), a batch's
    * per-key delta is one groupBy — update pre/post pairs cancel exactly,
    * so this is correct even when several commits land in ONE batch —
    * and the delta merges into the keyed stats table. Counters may
    * legitimately reach zero (a key whose rows all died keeps a 0-count
    * row — still equal to the recompute's absent row).
    */
  private[graft] def applyCdfStatsBatch(
      stats: graft.lake.VersionedTable, batch: DataFrame,
      key: String): Unit = {
    if (batch.isEmpty) return
    val sgn = when(col("change_type").isin("insert", "update_postimage"),
      1L).otherwise(lit(-1L))
    val delta = batch.select(col(key), sgn.as("sgn"),
        size(tokens(col("text"))).cast("long").as("ntok"))
      .groupBy(key)
      .agg(sum(col("sgn")).as("d_docs"),
        sum(col("sgn") * col("ntok")).as("d_tokens"))
    if (!stats.exists)
      stats.overwrite(delta.select(col(key),
        col("d_docs").as("n_docs"), col("d_tokens").as("n_tokens")))
    else
      stats.mergeInto(delta)
        .whenMatched().update(Map(
          "n_docs" -> expr("t.n_docs + s.d_docs"),
          "n_tokens" -> expr("t.n_tokens + s.d_tokens")))
        .whenNotMatched().insert(Map(
          key -> col(s"s.$key"),
          "n_docs" -> col("s.d_docs"),
          "n_tokens" -> col("s.d_tokens")))
        .execute()
  }

  /** Per-document bigram-LM score frame shared by q227 (threshold gate)
    * and q232 (tercile buckets): (doc_id, source, s, n) where `s` is the
    * document's summed Laplace-smoothed bigram NLL in integer MILLI-NATS
    * (floor(1000·ln((c1+V)/(c2+1)) + 0.5) per bigram — counts are exact
    * integers in both engines, so everything after the one quantized ln
    * is pure BIGINT) and `n` its bigram count. The LM trains on the clean
    * doc_id ≡ 0 (mod 3) slice; LM joins key on the UNBOUNDED vocab
    * (never broadcast); only the vocab-size scalar V reaches the driver.
    */
  private def lmPerDoc(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("i")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
    val vocabV = docs.filter(col("doc_id") % 3 === 0)
      .select(explode(col("t")).as("tok")).distinct()
      .count() // ONE scalar — bounded metadata, not a data collect
    val bigrams = docs.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"),
        posexplode(col("t")).as(Seq("i", "w1")))
      .select(col("doc_id"), col("source"), col("w1"),
        lead("w1", 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
    val train = bigrams.filter(col("doc_id") % 3 === 0)
    val c1 = train.groupBy("w1").agg(count(lit(1)).as("c1"))
    val c2 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    bigrams
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .select(col("doc_id"), col("source"),
        floor(lit(1000.0) * log(
          (coalesce(col("c1"), lit(0L)) + lit(vocabV)).cast("double") /
            (coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double"))
          + lit(0.5)).cast("long").as("nll"))
      .groupBy("doc_id", "source")
      .agg(sum("nll").as("s"), count(lit(1)).as("n"))
  }

  /** DuckDB mirror of [[lmPerDoc]] over the `tk` CTE, ending in CTE
    * `perdoc` (doc_id, source, s, n).
    */
  private def lmPerDocSql: String =
    """trainv AS (SELECT COUNT(DISTINCT tok) AS v FROM (
            SELECT UNNEST(t) AS tok FROM tk WHERE doc_id % 3 = 0)),
        bg0 AS (SELECT doc_id, source, UNNEST(list_transform(range(1, len(t)),
                 i -> {'w1': t[i], 'w2': t[i+1]})) AS b
               FROM tk WHERE len(t) >= 2),
        bg AS (SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bg0),
        c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg WHERE doc_id % 3 = 0
               GROUP BY 1),
        c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 3 = 0
               GROUP BY 1, 2),
        scored AS (SELECT g.doc_id, g.source,
            CAST(floor(1000.0 * ln(
              CAST(COALESCE(c1.c1, 0) + (SELECT v FROM trainv) AS DOUBLE)
              / CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)) + 0.5) AS BIGINT)
              AS nll
          FROM bg g LEFT JOIN c2 ON g.w1 = c2.w1 AND g.w2 = c2.w2
          LEFT JOIN c1 ON g.w1 = c1.w1),
        perdoc AS (SELECT doc_id, source, SUM(nll) AS s, COUNT(*) AS n
                   FROM scored GROUP BY 1, 2)"""

  /** (w0, w, freq): distinct corpus word, its two-space symbol encoding
    * ("  c1  c2  "), corpus frequency — the BPE working set. ONE corpus
    * scan; every training round runs on this vocab, never the corpus.
    */
  private def bpeVocab(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("w0"))
      .groupBy("w0").agg(count(lit(1)).as("freq"))
      .select(col("w0"), concat(lit("  "),
        regexp_replace(col("w0"), "(.)", "$1  ")).as("w"), col("freq"))

  /** `k` BPE training rounds over an encoded vocab (see q217's scaladoc
    * for the exact-replace trick): per round one frequency-weighted pair
    * count, a single-row argmax collect under the total order
    * (cnt DESC, a, b), and the greedy replace() merge. Returns the merge
    * table and the final encoded vocab with `w0` preserved.
    */
  private def bpeTrain(vocab0: DataFrame, k: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var vocab = Caches.cached(vocab0)
    val merges = scala.collection.mutable.Buffer.empty[(Int, String, String, Long)]
    for (r <- 1 to k) {
      val syms = vocab
        .select(split(trim(col("w")), "  ").as("s"), col("freq"))
        .filter(size(col("s")) >= 2)
      val best = syms
        .select(explode(transform(sequence(lit(1), size(col("s")) - 1),
          i => struct(element_at(col("s"), i).as("a"),
            element_at(col("s"), i + 1).as("b")))).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect() // ONE row per round — the learned rule
      require(best.nonEmpty,
        s"vocabulary exhausted before round $r — k is oversized for " +
          "this corpus and the fixed-round oracle would diverge")
      val (a, b, c) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += ((r, a, b, c))
      vocab = Caches.cached(vocab.select(col("w0"),
        call_function("replace", col("w"),
          lit(s" $a  $b "), lit(s" $a$b ")).as("w"), col("freq")))
    }
    (merges.toSeq, vocab)
  }

  /** DuckDB mirror of [[bpeVocab]]+[[bpeTrain]] over the `tk` CTE: CTEs
    * `wfreq` (word frequencies), `e0` (encoded, w0 carried) and, per
    * round r, `s r`/`p r` (pair counts), `b r` (argmax rule) and `e r`
    * (vocab after the merge) — fixed unrolling, identical replace
    * semantics. Callers read `b1..bk` (the merge table) or `ek` (the
    * final vocab).
    */
  private def bpeSql(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""s$r AS (SELECT string_split(trim(w, ' '), '  ') AS s, freq FROM e${r - 1}),
         |p$r AS (SELECT s[i] AS a, s[i+1] AS b, SUM(freq) AS cnt
         |  FROM (SELECT s, freq, unnest(range(1, len(s))) AS i
         |        FROM s$r WHERE len(s) >= 2) GROUP BY 1, 2),
         |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |e$r AS (SELECT e.w0, replace(e.w, ' ' || b.a || '  ' || b.b || ' ',
         |    ' ' || b.a || b.b || ' ') AS w, e.freq
         |  FROM e${r - 1} e CROSS JOIN b$r b)""".stripMargin
    }
    s"""wfreq AS (SELECT w, COUNT(*) AS freq
       |  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
       |e0 AS (SELECT w AS w0,
       |    '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS w, freq FROM wfreq),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  // ───────────────────────── unigram-LM tokenizer ─────────────────────────

  /** Unigram-LM tokenizer knobs: piece length ≤ [[UniL]], word length ≤
    * [[UniMaxW]] (the oracle unrolls the Viterbi DP to this fixed depth —
    * the trainer require()s the corpus honours it), [[UniInit]] multi-char
    * candidates kept at seeding, [[UniFinal]] survivors after the EM
    * prune. Single-char pieces are NEVER pruned (the SentencePiece
    * coverage guarantee: every word stays segmentable).
    */
  private final val UniL = 3
  private final val UniMaxW = 12
  private final val UniInit = 64
  private final val UniFinal = 32

  /** Viterbi min-cost segmentation of `w` under integer milli-nat piece
    * costs: dp over prefix lengths with transitions of length ≤ maxPiece;
    * at equal cost the backtrack prefers the LONGER last piece (mirrored
    * by the oracle's ORDER BY cost, length(piece) DESC). Total order ⇒
    * bit-identical paths in both engines. Exposed for UniTrainSpec, which
    * property-tests the prune-monotonicity theorem on this exact code.
    */
  private[graft] def uniSegment(w: String, cost: Map[String, Long],
      maxPiece: Int = UniL): (Long, Seq[String]) = {
    val n = w.length
    val Inf = Long.MaxValue / 4
    val dp = Array.fill(n + 1)(Inf)
    dp(0) = 0L
    var j = 1
    while (j <= n) {
      var l = 1
      while (l <= math.min(maxPiece, j)) {
        cost.get(w.substring(j - l, j)).foreach { c =>
          if (dp(j - l) + c < dp(j)) dp(j) = dp(j - l) + c
        }
        l += 1
      }
      j += 1
    }
    if (dp(n) >= Inf) return (Inf, Seq.empty) // infeasible under this model
    var pos = n
    val out = scala.collection.mutable.ListBuffer.empty[String]
    while (pos > 0) {
      var bc = Inf; var bl = 0; var bp: String = null
      var l = 1
      while (l <= math.min(maxPiece, pos)) {
        cost.get(w.substring(pos - l, pos)).foreach { c =>
          val tot = dp(pos - l) + c
          // strict improvement, or equal cost with a longer piece
          if (tot < bc || (tot == bc && l > bl)) {
            bc = tot; bl = l; bp = w.substring(pos - l, pos)
          }
        }
        l += 1
      }
      out.prepend(bp)
      pos -= bl
    }
    (dp(n), out.toList)
  }

  /** Hard-EM unigram-LM tokenizer trainer (the Viterbi-EM approximation
    * of Kudo 2018): frequency-weighted substring candidates seed the
    * model (all single chars + top [[UniInit]] multi-char by count), two
    * Viterbi E-steps re-estimate Laplace-smoothed integer milli-nat
    * costs from usage, the prune keeps the top [[UniFinal]] multi-char
    * survivors by usage (chars always stay), and a final E-step reports
    * usage under the pruned model. Scale: the model is ≤ UniInit +
    * |alphabet| rows end to end — bounded codebook metadata, the only
    * thing that ever reaches the driver; every E-step runs DISTRIBUTED
    * over the word vocabulary (flatMap → groupBy, vocab-bounded exactly
    * like q217's BPE rounds — corpus rows are never touched). Returns
    * (piece, final usage, final cost) sorted by piece, plus the final
    * cost map for segmentation consumers (q254).
    */
  private[graft] def uniTrain(vocab: DataFrame)
      : (Seq[(String, Long, Long)], Map[String, Long]) = {
    val sp = vocab.sparkSession
    import sp.implicits._
    val v = Caches.cached(vocab.select(col("w0"), col("freq")))
    val maxw = v.agg(max(length(col("w0")))).head.getInt(0)
    require(maxw <= UniMaxW,
      s"corpus has a $maxw-char word — the oracle's fixed $UniMaxW-step " +
        "Viterbi unroll would diverge from the engine")
    def qln(num: Long, den: Long): Long =
      math.floor(1000.0 * math.log(num.toDouble / den.toDouble) + 0.5).toLong
    val cand = v.as[(String, Long)].flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(UniL, w.length - i)
      } yield (w.substring(i, i + l), f)
    }.toDF("piece", "freq").groupBy("piece").agg(sum("freq").as("cnt"))
    val candC = Caches.cached(cand)
    val chars = candC.filter(length(col("piece")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)) // ≤ |alphabet|
    val nMulti = candC.filter(length(col("piece")) > 1).count()
    require(nMulti > UniInit,
      s"only $nMulti multi-char candidates — the UniInit=$UniInit seed " +
        "cut would be vacuous")
    val multi = candC.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(UniInit)
      .collect().map(r => r.getString(0) -> r.getLong(1)) // ≤ UniInit rows
    val keep0: Seq[(String, Long)] = (chars ++ multi).toSeq
    val tot0 = keep0.map(_._2).sum
    val m0: Map[String, Long] =
      keep0.map { case (p, c) => p -> -qln(c, tot0) }.toMap
    def usage(cost: Map[String, Long]): Map[String, Long] =
      v.as[(String, Long)].flatMap { case (w, f) =>
        uniSegment(w, cost)._2.map(p => (p, f))
      }.toDF("piece", "freq").groupBy("piece").agg(sum("freq").as("u"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // ≤ |model|
    val u1 = usage(m0)
    val denom1 = u1.values.sum + keep0.length
    val m1 = keep0.map { case (p, _) =>
      p -> -qln(u1.getOrElse(p, 0L) + 1, denom1) }.toMap
    val u2 = usage(m1)
    val keep1: Seq[String] = chars.map(_._1).toSeq ++
      multi.map(_._1).map(p => p -> u2.getOrElse(p, 0L))
        .sortBy { case (p, u) => (-u, p) }.take(UniFinal).map(_._1)
    val denom2 = keep1.map(p => u2.getOrElse(p, 0L)).sum + keep1.length
    val m2 = keep1.map(p => p -> -qln(u2.getOrElse(p, 0L) + 1, denom2)).toMap
    val u3 = usage(m2)
    val rows = keep1.map(p => (p, u3.getOrElse(p, 0L), m2(p))).sortBy(_._1)
    (rows, m2)
  }

  /** DuckDB mirror of one Viterbi E-step over the word vocab `ufreq`
    * against the model CTE (piece, cost): the DP unrolled to [[UniMaxW]]
    * positions (dp<tag>_j = min cost of the j-char prefix), the backtrack
    * unrolled the same depth choosing (cost, length DESC) at every
    * boundary, and use<tag> = frequency-weighted piece usage.
    * MATERIALIZED where referenced many times: inlined CTEs would re-open
    * the parquet scan per reference (~36× per chain) and trip the fd cap.
    */
  private def uniSegSql(tag: Int, model: String): String = {
    val dps = (1 to UniMaxW).map { j =>
      val legs = (1 to UniL).filter(j - _ >= 0).map { l =>
        val src = if (j - l > 0) s"dp${tag}_${j - l}" else "ufreq"
        val pc = if (j - l > 0) "d.cost" else "0"
        s"SELECT d.w0, $pc + m.cost AS cost FROM $src d " +
          s"JOIN $model m ON m.piece = substr(d.w0, ${j - l + 1}, $l) " +
          s"WHERE length(d.w0) >= $j"
      }
      s"dp${tag}_$j AS MATERIALIZED (SELECT w0, MIN(cost) AS cost FROM (" +
        legs.mkString(" UNION ALL ") + ") GROUP BY 1)"
    }
    val dpall = s"dpall$tag AS MATERIALIZED (SELECT w0, 0 AS j, " +
      "CAST(0 AS BIGINT) AS cost FROM ufreq" +
      (1 to UniMaxW).map(j =>
        s" UNION ALL SELECT w0, $j, cost FROM dp${tag}_$j").mkString + ")"
    val bt0 = s"bt${tag}_0 AS (SELECT w0, freq, length(w0) AS pos FROM ufreq)"
    val steps = (1 to UniMaxW).flatMap { k =>
      Seq(
        s"""st${tag}_$k AS (SELECT w0, freq, piece, newpos FROM (
           |  SELECT b.w0, b.freq, m.piece, b.pos - length(m.piece) AS newpos,
           |    row_number() OVER (PARTITION BY b.w0
           |      ORDER BY d.cost + m.cost, length(m.piece) DESC) AS r
           |  FROM bt${tag}_${k - 1} b
           |  JOIN $model m ON length(m.piece) <= b.pos
           |    AND m.piece = substr(b.w0, b.pos - length(m.piece) + 1, length(m.piece))
           |  JOIN dpall$tag d ON d.w0 = b.w0 AND d.j = b.pos - length(m.piece)
           |  WHERE b.pos > 0) WHERE r = 1)""".stripMargin,
        s"bt${tag}_$k AS (SELECT w0, freq, newpos AS pos FROM st${tag}_$k)")
    }
    val uses = (1 to UniMaxW).map(k =>
      s"SELECT piece, freq FROM st${tag}_$k").mkString(" UNION ALL ")
    (dps ++ Seq(dpall, bt0) ++ steps ++
      Seq(s"use$tag AS (SELECT piece, SUM(freq) AS u FROM ($uses) GROUP BY 1)"))
      .mkString(",\n")
  }

  /** DuckDB mirror of [[uniTrain]] over the `tk` CTE: candidates, the
    * seeded model um0, two EM rounds (use1 → um1 → use2), the prune
    * (keep1 → um2) and the final E-step use3. Callers read um2/use3 (the
    * final model + usage) or the st3_* chains (per-word segmentations).
    * Prototyped against a plain-python reference of uniTrain at all three
    * SFs (bit-identical 56-piece models) before landing.
    */
  private def uniSql(): String = {
    def qlnSql(n: String, d: String): String =
      s"CAST(floor(1000.0 * ln(CAST($n AS DOUBLE) / CAST($d AS DOUBLE)) + 0.5) AS BIGINT)"
    s"""ufreq AS MATERIALIZED (SELECT w AS w0, COUNT(*) AS freq
       |  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
       |upos AS (SELECT unnest(range(1, ${UniMaxW + 1})) AS i),
       |uls AS (SELECT unnest(range(1, ${UniL + 1})) AS l),
       |ucand AS (SELECT substr(w0, CAST(i AS INT), CAST(l AS INT)) AS piece,
       |    SUM(freq) AS cnt
       |  FROM ufreq, upos, uls WHERE i + l - 1 <= length(w0) GROUP BY 1),
       |keep0 AS MATERIALIZED (SELECT piece, cnt FROM ucand WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS r
       |    FROM ucand WHERE length(piece) > 1) WHERE r <= $UniInit),
       |um0 AS MATERIALIZED (SELECT piece,
       |    -${qlnSql("cnt", "(SELECT SUM(cnt) FROM keep0)")} AS cost
       |  FROM keep0),
       |${uniSegSql(1, "um0")},
       |um1 AS MATERIALIZED (SELECT k.piece,
       |    -${qlnSql("COALESCE(u.u, 0) + 1",
            "(SELECT COALESCE(SUM(u), 0) FROM use1) + (SELECT COUNT(*) FROM keep0)")} AS cost
       |  FROM keep0 k LEFT JOIN use1 u USING (piece)),
       |${uniSegSql(2, "um1")},
       |keep1 AS MATERIALIZED (SELECT piece FROM keep0 WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece FROM (SELECT k.piece,
       |      row_number() OVER (ORDER BY COALESCE(u.u, 0) DESC, k.piece) AS r
       |    FROM keep0 k LEFT JOIN use2 u USING (piece)
       |    WHERE length(k.piece) > 1) WHERE r <= $UniFinal),
       |um2 AS MATERIALIZED (SELECT k.piece,
       |    -${qlnSql("COALESCE(u.u, 0) + 1",
            "(SELECT COALESCE(SUM(u.u), 0) FROM keep1 k2 JOIN use2 u ON u.piece = k2.piece) + (SELECT COUNT(*) FROM keep1)")} AS cost
       |  FROM keep1 k LEFT JOIN use2 u USING (piece)),
       |${uniSegSql(3, "um2")}""".stripMargin
  }
}

package graft.llm

import graft.{QueryModule, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Text analysis over the documents table — SURVEY.md §2.11 north
  * star: quality scoring, language-ID heuristic, token counting,
  * document fingerprinting. All pure column expressions (codegen'd,
  * no UDFs) so they run at scan speed.
  */
object TextStats extends QueryModule {

  private def toks(text: Column): Column = split(text, " ")

  private val stopwords = Seq("the", "a", "of", "in", "and")

  /** Per-document stats: sizes, lexical diversity, stopword ratio. */
  def textstats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    val nToks = size(t)
    val tokLenSum = aggregate(transform(t, x => length(x)), lit(0), (a, x) => a + x)
    val nStop = size(filter(t, x => x.isin(stopwords: _*)))
    T.t(s, dir, "documents")
      .select(
        $"doc_id",
        length($"text").as("n_chars"),
        nToks.as("n_toks"),
        size(array_distinct(t)).as("n_uniq"),
        round(tokLenSum / nToks.cast("double"), 6).as("avg_tok_len"),
        round(nStop / nToks.cast("double"), 6).as("stop_ratio"))
      .orderBy($"doc_id")
  }

  /** Language-ID heuristic: stopword-hit votes per language with a
    * fixed priority tie-break; summarized as a confusion matrix
    * against the labeled lang column.
    */
  def langid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    def hits(ws: Seq[String]) = size(filter(t, x => x.isin(ws: _*)))
    val sEn = hits(Seq("the", "a", "and", "of"))
    val sFr = hits(Seq("le", "la", "et", "de"))
    val sEs = hits(Seq("el", "los", "y", "que"))
    val sDe = hits(Seq("der", "die", "und", "ist"))
    val best = greatest(sEn, sFr, sEs, sDe)
    val pred = when(best === 0, "unk")
      .when(sEn === best, "en")
      .when(sFr === best, "fr")
      .when(sEs === best, "es")
      .otherwise("de")
    T.t(s, dir, "documents")
      .groupBy($"lang", pred.as("predicted"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"lang", $"predicted")
  }

  /** Token counting: whitespace tokens vs regex word extraction
    * (the BPE-ish pre-tokenizer pattern).
    */
  def tokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.t(s, dir, "documents")
      .select(
        $"doc_id",
        size(toks($"text")).as("n_ws_toks"),
        size(regexp_extract_all($"text", lit("[a-z]+"), lit(0))).as("n_word_toks"),
        size(regexp_extract_all($"text", lit("[aeiou]+"), lit(0))).as("n_vowel_runs"))
      .orderBy($"doc_id")
  }

  /** Fingerprints: raw content hash + order-insensitive canonical
    * hash (sorted distinct token set) — the exact-dedup key and the
    * bag-of-words dedup key.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    T.t(s, dir, "documents")
      .select(
        $"doc_id",
        md5($"text").as("content_hash"),
        md5(concat_ws(" ", array_sort(array_distinct(t)))).as("canonical_hash"))
      .orderBy($"doc_id")
  }

  /** Intra-document repetition score — the Gopher-style quality rule
    * (most-repeated n-gram fraction): word 5-grams per document WITH
    * duplicates, the ratio of the most frequent 5-gram's count to the
    * total. Row-form 5-grams from the native `ngrams` expression (a
    * pure map stage — Dedup.shingleRows records the rejected
    * window/lambda forms); the aggregation
    * is two hash aggs, map-side combined. Docs under 5 tokens have no
    * grams and drop out (both engines agree). The ratio ships as
    * integer parts-per-million (`max_rep * 1e6 div n_grams`) — pure
    * integer arithmetic on both engines, immune to the round(double)
    * half-up/half-even drift double ratios carry across engine
    * versions (the raw counts are in the output, so the exact
    * rational stays recoverable).
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = T.t(s, dir, "documents").select($"doc_id",
      explode(graft.functions.NgramFunctions.ngrams($"text", 5)).as("gram"))
    grams.groupBy($"doc_id", $"gram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_grams"), max($"c").as("max_rep"))
      .select($"doc_id", $"n_grams", $"max_rep",
        expr("max_rep * 1000000L div n_grams").as("rep_ppm"))
      .orderBy($"doc_id")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS scheme): 64-bit rolling hashes of word 3-grams, then
    * the minimum hash of every 4-gram-hash window, distinct per doc.
    * Guarantees any shared run of ≥6 words between two docs shares a
    * fingerprint, at ~2/(w+1) the storage of all grams. The window
    * min is a least() over three lead()s (no frame re-scan); the
    * md5-derived hash is engine-portable, so the full pipeline is
    * hash-oracled. Same row-form gram build as shingleRows.
    */
  def winnow(s: SparkSession, dir: String): DataFrame =
    winnowDocs(s, T.t(s, dir, "documents"))

  private[graft] def winnowDocs(s: SparkSession, docs: DataFrame): DataFrame =
    fpRows(s, docs).orderBy(col("doc_id"), col("fp"))

  /** Unordered fingerprint rows — consumers that re-aggregate (the
    * pair join) skip the output sort winnow's contract adds.
    */
  private def fpRows(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // positional 3-grams straight from the native ngrams expression —
    // posexplode supplies the pos the winnowing window orders by, so
    // the ONLY shuffle left is the window's own doc partitioning
    val grams = docs.select($"doc_id",
      posexplode(graft.functions.NgramFunctions.ngrams($"text", 3))
        .as(Seq("pos", "gram")))
    val hi = conv(substring(md5($"gram"), 1, 8), 16, 10).cast("long")
    val lo = conv(substring(md5($"gram"), 9, 8), 16, 10).cast("long")
    val hashed = grams.withColumn("gh", shiftleft(hi, 32).bitwiseOR(lo))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    hashed
      .select($"doc_id", $"gh",
        lead($"gh", 1).over(w).as("g1"),
        lead($"gh", 2).over(w).as("g2"),
        lead($"gh", 3).over(w).as("g3"))
      .filter($"g3".isNotNull)
      .select($"doc_id", least($"gh", $"g1", $"g2", $"g3").as("fp"))
      .distinct()
  }

  /** Near-dup candidate pairs from winnowing fingerprints: inverted
    * fingerprint index self-join, pairs sharing ≥3 fingerprints. The
    * fingerprint density is ~2/(w+1) of the gram count, so the index
    * is ~40% the size of the full shingle index, and a document-
    * frequency cap (fingerprints in >100 docs dropped — the stopword-
    * gram guard) bounds the join fan-out the way banding bounds
    * MinHash: no fingerprint bucket exceeds the cap, so candidate
    * emission is linear in docs at any corpus size.
    */
  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // feeds the df cap + both join sides; UNORDERED rows — the global
    // sort in winnow's public contract would be wasted work here
    val fp = fpRows(s, T.t(s, dir, "documents")).localCheckpoint()
    // broadcast the HOT set (df > cap), not the rare one: rare
    // fingerprints are the overwhelming majority of the table (a
    // corpus-sized broadcast at scale); the stopword-gram hot set is
    // O(cap-crossing grams) — the only side that fits every executor
    val hot = fp.groupBy($"fp").agg(count(lit(1)).as("df"))
      .filter($"df" > 100).select($"fp")
    val pruned = fp.join(broadcast(hot), Seq("fp"), "left_anti")
    pruned.as("a").join(pruned.as("b"), "fp")
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 3)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Corpus-trained bigram language-model score — the CCNet-style
    * perplexity filter of LLM curation pipelines, with the corpus as
    * its own training set: P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V)
    * (add-one smoothing over the bigram-left context, a proper
    * conditional distribution), doc score = mean log-probability of
    * its bigrams. Docs built from rare constructions score low —
    * the perplexity signal without an external model artifact.
    *
    * All declarative: one bigram build (shingleRows pattern), two
    * count aggregations (vocab²-bounded, map-side combined), one
    * shuffle join of doc-bigrams against the counts — hot function
    * words skew that join and AQE skew-split absorbs it. Log-probs
    * are rounded then DECIMAL-summed (the transcendental-rounding
    * determinism contract), so the score hash-matches DuckDB.
    */
  def lmScore(s: SparkSession, dir: String): DataFrame =
    lmScoreDocs(s, T.t(s, dir, "documents"))

  private[graft] def lmScoreDocs(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val tokRows = docs.select($"doc_id",
      posexplode(toks($"text")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    // feeds the two count aggs AND the scoring join: materialize once
    val bigrams = tokRows
      .select($"doc_id", $"tok".as("w1"), lead($"tok", 1).over(w).as("w2"))
      .filter($"w2".isNotNull)
      .localCheckpoint()
    // checkpoint the vocab²-bounded count tables: beyond truncating
    // lineage, this leaves BARE shuffle stages under the scoring
    // joins — AQE's OptimizeSkewedJoin only splits a sort-merge join
    // whose children are plain shuffle reads, so with the aggregate
    // inlined a Zipfian hot bigram (w1='the') could never be
    // skew-split; with the checkpoint it is (gated in DedupScaleSpec)
    val c2 = bigrams.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
      .localCheckpoint()
    val c1 = bigrams.groupBy($"w1").agg(count(lit(1)).as("c1"))
      .localCheckpoint()
    val vocab = docs
      .select(explode(toks($"text")).as("tok"))
      .agg(countDistinct($"tok").as("v"))
    bigrams
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp",
        round(log(($"c2" + 1).cast(DoubleType) / ($"c1" + $"v")), 9))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum($"logp".cast(DecimalType(18, 9))).cast(DoubleType) /
          count(lit(1)), 6).as("lm_score"))
      .orderBy($"doc_id")
  }

  /** BM25 retrieval (Robertson/Spärck Jones, k1=1.2 b=0.75): score
    * every document against a fixed term set and return the top 20 —
    * the retrieval primitive a decontamination-by-search or
    * RAG-curation pass runs at corpus scale. Dataflow is three
    * doc-keyed aggregates and one broadcast of per-TERM stats (the
    * query has O(terms) rows — broadcasting it is scale-correct,
    * unlike broadcasting anything corpus-sized): tf per (doc, term),
    * dl per doc, df per term; the score is a pure map expression over
    * the joined rows. Determinism contract: idf's ln() rounds to 9
    * first (the one libm-drift risk), the remaining IEEE mult/div
    * chain is written with IDENTICAL parenthesization in both
    * engines, per-term contribs round to 9 and sum exactly via
    * DECIMAL(18,9) — same discipline as lm_score.
    */
  private[graft] val Bm25Terms = Seq("spark", "vector", "merge")

  /** BM25 scoring core over term-frequency rows: shared by the scan
    * path (`llm_bm25`) and the stored-index path (`llm_bm25_stored`),
    * so both produce bit-identical scores and share one oracle.
    */
  private[graft] def bm25Score(tf: DataFrame, dl: DataFrame,
      st: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    import tf.sparkSession.implicits._
    val dfq = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("contrib", round(
        round(log(($"nd" - $"df" + 0.5) / ($"df" + 0.5) + 1), 9) *
          ($"tf" * 2.2) /
          ($"tf" + lit(1.2) * (lit(1) - 0.75 + lit(0.75) * $"dl" /
            ($"tt" * 1.0 / $"nd"))), 9))
      .groupBy($"doc_id")
      .agg(round(sum($"contrib".cast(DecimalType(18, 9)))
        .cast(DoubleType), 6).as("score"))
      .orderBy($"score".desc, $"doc_id")
      .limit(20)
  }

  def bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tokRows = T.t(s, dir, "documents")
      .select($"doc_id", explode(toks($"text")).as("tok"))
    val dl = tokRows.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("nd"), sum($"dl").as("tt"))
    val tf = tokRows.filter($"tok".isin(Bm25Terms: _*))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    bm25Score(tf, dl, st)
  }

  /** BM25 served from a PERSISTED inverted index in the library's own
    * indexed storage: term-frequency postings range-clustered on the
    * term and covered by zone-map + Bloom sidecars, doc lengths and
    * the corpus stats row alongside. The query's term filter prunes
    * POSTING FILES through the sidecars before any row is read — at
    * 100 TB a needle-term query touches the one file holding its
    * posting list, the inverted-index access path expressed entirely
    * through the storage layer (StorageSpec pins the file count).
    * Scoring is the shared core, so the result — and the oracle — are
    * identical to the scan-path `llm_bm25`.
    */
  private def bm25IndexFixture(s: SparkSession, dir: String): String =
    graft.Fixtures.ensure(dir, "bm25_index") { out =>
      import s.implicits._
      val tokRows = T.t(s, dir, "documents")
        .select($"doc_id", explode(toks($"text")).as("tok"))
      val st0 = graft.sources.GraftStorage(s)
      st0.writeIndexed(
        tokRows.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf")),
        s"$out/tf", "tok", "tok")
      st0.buildBloomIndex(s"$out/tf", Seq("tok"))
      val dl = tokRows.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
      dl.write.mode("overwrite").parquet(s"$out/dl")
      dl.agg(count(lit(1)).as("nd"), sum($"dl").as("tt"))
        .write.mode("overwrite").parquet(s"$out/st")
    }

  override def prepare(s: SparkSession, dir: String): Unit = {
    bm25IndexFixture(s, dir); ()
  }

  def bm25Stored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = bm25IndexFixture(s, dir)
    val tf = graft.sources.GraftStorage(s).readPruned(s"$idx/tf")
      .filter($"tok".isin(Bm25Terms: _*))
    bm25Score(tf, s.read.parquet(s"$idx/dl"), s.read.parquet(s"$idx/st"))
  }

  /** BPE-style pair statistics: the most frequent adjacent character
    * pairs within words — exactly the statistic one byte-pair-encoding
    * training iteration computes before merging its top pair
    * (Sennrich et al., ACL'16). Pure generate-and-count: explode words,
    * explode character offsets, substring the 2-gram, one hash agg —
    * scan-speed, map-side combined, no windows. Top 20 with a
    * deterministic (count desc, pair asc) cut.
    */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.t(s, dir, "documents")
      .select(explode(toks($"text")).as("word"))
      // single-char words carry no pair — and Spark's sequence(1, 0)
      // would run DESCENDING rather than empty, silently emitting
      // bogus offsets, so the guard is correctness, not just cost
      .filter(length($"word") >= 2)
      .select(explode(expr("sequence(1, length(word) - 1)")).as("i"),
        $"word")
      .select(expr("substring(word, i, 2)").as("pair"))
      .groupBy($"pair")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"pair")
      .limit(20)
  }

  private val BpeMerges = 5

  /** BPE merge training — the real tokenizer-training dataflow,
    * distributed the way it actually scales: the ONLY corpus-sized
    * work is the word-count aggregation (one shuffle); the k merge
    * rounds then iterate over the VOCABULARY table (distinct words ×
    * evolving symbol strings — millions of rows at worst, independent
    * of corpus size). Each round is: pair-frequency aggregate over
    * vocab (weighted by word count, pairs via the native `ngrams`
    * expression), a 1-row argmax collect (freq desc, pair asc — the
    * canonical greedy rule with a deterministic tie-break), and a
    * leftmost-nonoverlapping merge applied as a plain string replace
    * on space-padded symbols. CONVENTION, shared bit-for-bit by the
    * DuckDB oracle: each round is ONE non-overlapping left-to-right
    * replace pass, so ADJACENT occurrences of the winning pair
    * ("banana" → ' b a n a n a ', pair (n,a)) merge one-per-pass —
    * the space consumed by a substitution hides the immediately
    * following occurrence until the pair wins another round. That
    * differs from reference BPE only on XYXY runs and converges to
    * the same vocabulary as rounds repeat; pinning the convention is
    * what lets an ANSI-SQL oracle replay training exactly. Returns
    * (step, pair, merged, freq) rules.
    */
  private val bpeRuleCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, Seq[(Int, String, String, Long)]]()

  private[graft] def bpeTrainRules(
      s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    // training is deterministic per corpus — one JVM learns it once,
    // so bpeApply doesn't re-run the merge rounds (same contract as
    // Fixtures.ensure)
    bpeRuleCache.computeIfAbsent(dir, _ => bpeTrainRulesUncached(s, dir))

  private def bpeTrainRulesUncached(
      s: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
    import s.implicits._
    // vocab: word -> count, symbols = chars spaced ("hello" -> "h e l l o")
    var vocab = T.t(s, dir, "documents")
      .select(explode(toks($"text")).as("word"))
      // '_' is the ngrams pair joiner — a token containing it would
      // corrupt pair decoding, so it must not reach training
      .filter(!$"word".contains("_"))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      // split at every non-start position also yields a trailing ""
      // (Spark splits with limit -1): drop it, or its ' ' separator
      // would hand ngrams a bogus word-final pair such as "e_"
      .select(concat_ws(" ", array_remove(split($"word", "(?!^)"), ""))
        .as("symbols"), $"cnt")
      .localCheckpoint()
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= BpeMerges && !exhausted) {
      val top = vocab
        .select(explode(
          graft.functions.NgramFunctions.ngrams($"symbols", 2)).as("pair"),
          $"cnt")
        .groupBy($"pair").agg(sum($"cnt").as("freq"))
        .orderBy($"freq".desc, $"pair")
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val freq = top(0).getLong(1)
        // learned symbols are interpolated into SQL replace() calls
        // and '_'-decoded from the ngrams joiner — a corpus whose
        // tokens carry quotes, backslashes, or underscores would
        // break parsing / pair decoding SILENTLY, so refuse loudly
        // (normalize such corpora first; llm_normalize is the stage
        // for it)
        require(!pair.exists(c => c == '\'' || c == '\\'),
          s"bpe: learned symbol pair '$pair' contains a quote/" +
            "backslash, unsafe to interpolate into SQL replace()")
        val merged = pair.replace("_", "")
        val spaced = pair.replace('_', ' ')
        rules += ((step, pair, merged, freq))
        // symbol chains are pure map stages over the vocab table —
        // round i re-evaluates i replaces, trivially cheap vs any
        // corpus scan
        vocab = vocab.select(
          expr(s"trim(replace(concat(' ', symbols, ' '), ' $spaced ', ' $merged '))")
            .as("symbols"),
          $"cnt")
        step += 1
      }
    }
    rules.result()
  }

  /** The learned merge table as a query result (the trained artifact
    * a tokenizer ships): step, '_'-joined pair, merged symbol, and
    * the weighted pair frequency that won the round.
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeTrainRules(s, dir)
      .toDF("step", "pair", "merged", "freq")
      .orderBy($"step")
  }

  /** Encode the corpus with the trained merges — one pure codegen map
    * stage over documents, NO shuffle before the output sort: the
    * whole text becomes spaced symbols with a '|' word-boundary
    * marker (never a corpus character, so no merge can cross a word
    * boundary), the k merge rules apply as chained string replaces,
    * and the BPE token count falls out of the symbol count. This is
    * the tokenize step a 100 TB pipeline runs per document; it must
    * not shuffle, and here it does not.
    */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = bpeTrainRules(s, dir)
    // "ab cd" -> " a b | c d " (chars spaced, words fenced by '|')
    val base = "concat(' ', regexp_replace(regexp_replace(text, ' ', ' | '), " +
      "'([^ ])(?=[^ ])', '$1 '), ' ')"
    val applied = rules.foldLeft(base) { case (acc, (_, pair, merged, _)) =>
      val spaced = pair.replace('_', ' ')
      s"replace($acc, ' $spaced ', ' $merged ')"
    }
    T.t(s, dir, "documents")
      .select(
        $"doc_id",
        size(toks($"text")).cast("long").as("n_tokens"),
        (size(split(trim(expr(applied)), " ")).cast("long")
          - (size(toks($"text")).cast("long") - 1L)).as("n_bpe"))
      .orderBy($"doc_id")
  }

  // unrolled k-round BPE training chain: w0 = vocab symbols, then per
  // round i: p_i pair counts, m_i winning merge, w_i merged symbols.
  // A round with no pairs left yields an empty m_i; the chr(1)
  // sentinel keeps w_i intact instead of NULLing every word.
  private def bpeCtes: String = {
    val sb = new StringBuilder
    sb ++= """w0 AS (
      |  SELECT array_to_string([word[i] FOR i IN
      |           generate_series(1, length(word))], ' ') AS symbols, cnt
      |  FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      |        FROM (SELECT unnest(string_split(text, ' ')) AS word
      |              FROM documents)
      |        GROUP BY word))""".stripMargin
    for (i <- 1 to BpeMerges) {
      sb ++= s""",
      |p$i AS (
      |  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS freq FROM (
      |    SELECT cnt, unnest([toks[j] || '_' || toks[j+1]
      |      FOR j IN generate_series(1, len(toks)-1)]) AS pair
      |    FROM (SELECT string_split(symbols, ' ') AS toks, cnt FROM w${i - 1}))
      |  GROUP BY pair),
      |m$i AS (SELECT $i AS step, pair, replace(pair, '_', '') AS merged, freq
      |        FROM p$i ORDER BY freq DESC, pair LIMIT 1),
      |w$i AS (
      |  SELECT trim(replace(' ' || symbols || ' ',
      |    ' ' || replace(coalesce((SELECT pair FROM m$i), chr(1)), '_', ' ') || ' ',
      |    ' ' || coalesce((SELECT merged FROM m$i), chr(1)) || ' ')) AS symbols,
      |    cnt
      |  FROM w${i - 1})""".stripMargin
    }
    sb.toString
  }

  private def bpeTrainOracle: String =
    s"""WITH $bpeCtes
       |SELECT CAST(step AS INT) AS step, pair, merged, freq
       |FROM (${(1 to BpeMerges).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")})
       |ORDER BY step""".stripMargin

  private def bpeApplyOracle: String = {
    // per doc: spaced symbols with '|' fences, the same k replaces
    // (scalar subqueries against m_i), then count symbols
    val base = "' ' || array_to_string([array_to_string([w[i] FOR i IN " +
      "generate_series(1, length(w))], ' ') FOR w IN string_split(text, ' ')]" +
      ", ' | ') || ' '"
    val applied = (1 to BpeMerges).foldLeft(base) { (acc, i) =>
      s"""replace($acc,
         | ' ' || replace(coalesce((SELECT pair FROM m$i), chr(1)), '_', ' ') || ' ',
         | ' ' || coalesce((SELECT merged FROM m$i), chr(1)) || ' ')""".stripMargin
    }
    s"""WITH $bpeCtes
       |SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  CAST(len(string_split(trim($applied), ' '))
       |    - (len(string_split(text, ' ')) - 1) AS BIGINT) AS n_bpe
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Quality score: length gate + lexical-diversity/volume blend;
    * keep flag for pipeline filtering.
    */
  def quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    val nToks = size(t)
    val uniqRatio = size(array_distinct(t)) / nToks.cast("double")
    val volume = least(nToks, lit(100)) / lit(100.0)
    val score = round(uniqRatio * 0.5 + volume * 0.5, 6)
    val lenOk = length($"text").between(50, 5000)
    T.t(s, dir, "documents")
      .select(
        $"doc_id",
        score.as("score"),
        lenOk.as("len_ok"),
        (lenOk && score > 0.3).as("keep"))
      .orderBy($"doc_id")
  }

  private val HashDim = 4096

  /** Hashing-trick linear quality classifier (the fastText /
    * Vowpal-Wabbit shape: Weinberger et al., "Feature Hashing for
    * Large Scale Multitask Learning", ICML'09): each token hashes
    * into one of HashDim weight buckets, the document's score is the
    * sum of its bucket weights, and the sign is the keep/drop label.
    * This is how production corpus filters (CCNet's fastText LM
    * filter, quality classifiers over Common Crawl) actually run —
    * a FIXED model applied at scan speed, not a training job.
    *
    * The weight table is closed-form integer arithmetic on the
    * bucket id (Knuth multiplicative hash mod a prime, recentered to
    * [-1000, 1000]) rather than a learned blob: pseudo-random enough
    * to exercise the plumbing and — unlike a binary model file —
    * expressible in ANSI SQL, so the full classifier carries a
    * DuckDB oracle (the llm_knn_lsh plane-matrix trick). Everything
    * is a codegen'd map expression: md5-derived bucket, integer
    * weight, array-aggregate sum — no shuffle until the final
    * per-source census, no division (Spark `div` truncates, DuckDB
    * `//` floors — sums and sign tests sidestep the mismatch).
    */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weight = (t: Column) =>
      (conv(substring(md5(t), 1, 8), 16, 10).cast("long") % HashDim) *
        2654435761L % 1000003L % 2001L - 1000L
    val score = aggregate(split(lower($"text"), " "), lit(0L),
      (acc, t) => acc + weight(t))
    T.t(s, dir, "documents")
      .select($"source", score.as("score"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"score" >= 0, 1L).otherwise(0L)).as("n_pos"),
        sum($"score").as("sum_score"))
      .orderBy($"source")
  }

  /** Corpus dataset card: the per-source summary every training-data
    * release ships — doc/char/token volume, language spread, and the
    * exact-duplicate census — in ONE scan with map-side partial
    * aggregation (the dup census folds in as count − distinct
    * content-hash, no self-join). At 100 TB this is the profiling
    * pass that budgets the downstream pipeline.
    */
  def corpusSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.t(s, dir, "documents")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        sum(size(split($"text", " ")).cast("long")).as("sum_tokens"),
        count_distinct($"lang").as("n_langs"),
        (count(lit(1)) - count_distinct(md5($"text"))).as("n_exact_dups"))
      .orderBy($"source")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_corpus_summary" -> (corpusSummary(_, _)),
    "llm_textstats" -> (textstats(_, _)),
    "llm_langid" -> (langid(_, _)),
    "llm_tokens" -> (tokens(_, _)),
    "llm_fingerprint" -> (fingerprint(_, _)),
    "llm_winnow" -> (winnow(_, _)),
    "llm_winnow_pairs" -> (winnowPairs(_, _)),
    "llm_repetition" -> (repetition(_, _)),
    "llm_lm_score" -> (lmScore(_, _)),
    "llm_bm25" -> (bm25(_, _)),
    "llm_bm25_stored" -> (bm25Stored(_, _)),
    "llm_bpe_pairs" -> (bpePairs(_, _)),
    "llm_bpe_train" -> (bpeTrain(_, _)),
    "llm_bpe_apply" -> (bpeApply(_, _)),
    "llm_quality" -> (quality(_, _)),
    "llm_quality_classifier" -> (qualityClassifier(_, _)))

  // shared winnowing CTE chain ending in fps(doc_id, fp)
  private val winnowCte =
    """g AS (
      |  SELECT doc_id, s.i AS pos, s.g AS gram FROM (
      |    SELECT doc_id,
      |      unnest([{'i': i, 'g': toks[i] || '_' || toks[i+1] || '_' || toks[i+2]}
      |        FOR i IN generate_series(1, len(toks)-2)]) AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents))),
      |h AS (
      |  SELECT doc_id, pos,
      |    (CAST(('0x' || substring(md5(gram), 1, 8)) AS BIGINT)
      |     - CASE WHEN CAST(('0x' || substring(md5(gram), 1, 8)) AS BIGINT)
      |         >= 2147483648 THEN 4294967296 ELSE 0 END) * 4294967296
      |    + CAST(('0x' || substring(md5(gram), 9, 8)) AS BIGINT) AS gh
      |  FROM g),
      |wnd AS (
      |  SELECT doc_id, gh,
      |    lead(gh, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS g1,
      |    lead(gh, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS g2,
      |    lead(gh, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS g3
      |  FROM h),
      |fps AS (
      |  SELECT DISTINCT doc_id, least(gh, g1, g2, g3) AS fp
      |  FROM wnd WHERE g3 IS NOT NULL)""".stripMargin

  private def sqlHits(ws: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), x -> x IN (${ws.map("'" + _ + "'").mkString(", ")})))"

  /** One BM25 oracle for both the scan and stored-index paths —
    * the Spark sides share `bm25Score`, so scores are bit-identical.
    */
  private val bm25OracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      |st AS (SELECT COUNT(*) AS nd, SUM(dl) AS tt FROM dl),
      |tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM tok
      |  WHERE tok IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
      |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |c AS (
      |  SELECT tf.doc_id,
      |    round(round(ln((nd - df + 0.5) / (df + 0.5) + 1), 9)
      |      * (tf * 2.2)
      |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl
      |        / (tt * 1.0 / nd))), 9) AS contrib
      |  FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id)
      |  CROSS JOIN st)
      |SELECT doc_id,
      |  round(CAST(SUM(CAST(contrib AS DECIMAL(18,9))) AS DOUBLE), 6)
      |    AS score
      |FROM c GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "llm_corpus_summary" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "llm_bpe_train" -> bpeTrainOracle,
    "llm_bpe_apply" -> bpeApplyOracle,
    "llm_bpe_pairs" ->
      """WITH w AS (
        |  SELECT word FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) >= 2),
        |p AS (
        |  SELECT substr(word, CAST(i.i AS INT), 2) AS pair
        |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(word) - 1)) AS i) i)
        |SELECT pair, COUNT(*) AS cnt FROM p
        |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    "llm_bm25_stored" -> bm25OracleSql,
    "llm_bm25" -> bm25OracleSql,
    "llm_lm_score" ->
      """WITH big AS (
        |  SELECT doc_id, s.a AS w1, s.b AS w2 FROM (
        |    SELECT doc_id,
        |      unnest([{'a': toks[i], 'b': toks[i+1]}
        |        FOR i IN generate_series(1, len(toks)-1)]) AS s
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |          FROM documents))),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
        |v AS (
        |  SELECT COUNT(DISTINCT tok) AS v FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
        |sc AS (
        |  SELECT doc_id,
        |    round(ln((c2.c2 + 1) * 1.0 / (c1.c1 + v.v)), 9) AS logp
        |  FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  round(CAST(SUM(CAST(logp AS DECIMAL(18,9))) AS DOUBLE)
        |    / COUNT(*), 6) AS lm_score
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_textstats" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS INT) AS n_chars,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_toks,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq,
         |  round(list_sum(list_transform(string_split(text, ' '), x -> len(x)))
         |    * 1.0 / len(string_split(text, ' ')), 6) AS avg_tok_len,
         |  round(${sqlHits(stopwords)}
         |    * 1.0 / len(string_split(text, ' ')), 6) AS stop_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_langid" ->
      s"""WITH sc AS (
         |  SELECT lang,
         |    ${sqlHits(Seq("the", "a", "and", "of"))} AS s_en,
         |    ${sqlHits(Seq("le", "la", "et", "de"))} AS s_fr,
         |    ${sqlHits(Seq("el", "los", "y", "que"))} AS s_es,
         |    ${sqlHits(Seq("der", "die", "und", "ist"))} AS s_de
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'unk'
         |       WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
         |       WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
         |       WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
         |       ELSE 'de' END AS predicted,
         |  COUNT(*) AS cnt
         |FROM sc GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "llm_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_toks,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_word_toks,
        |  CAST(len(regexp_extract_all(text, '[aeiou]+')) AS INT) AS n_vowel_runs
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_fingerprint" ->
      """SELECT doc_id,
        |  md5(text) AS content_hash,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |    AS canonical_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_winnow" ->
      s"""WITH $winnowCte
         |SELECT doc_id, fp FROM fps
         |ORDER BY doc_id, fp""".stripMargin,
    "llm_winnow_pairs" ->
      s"""WITH $winnowCte,
         |rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 100),
         |pruned AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  COUNT(*) AS n_shared
         |FROM pruned a JOIN pruned b USING (fp)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY doc_a, doc_b HAVING COUNT(*) >= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "llm_repetition" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest([toks[i] || '_' || toks[i+1] || '_' || toks[i+2] || '_' ||
        |            toks[i+3] || '_' || toks[i+4]
        |      FOR i IN generate_series(1, len(toks)-4)]) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams, MAX(c) AS max_rep,
        |  CAST((MAX(c) * 1000000) // SUM(c) AS BIGINT) AS rep_ppm
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_quality" ->
      """SELECT doc_id,
        |  round(len(list_distinct(string_split(text, ' ')))
        |      * 1.0 / len(string_split(text, ' ')) * 0.5
        |    + least(len(string_split(text, ' ')), 100) / 100.0 * 0.5, 6) AS score,
        |  length(text) BETWEEN 50 AND 5000 AS len_ok,
        |  (length(text) BETWEEN 50 AND 5000) AND
        |    (round(len(list_distinct(string_split(text, ' ')))
        |        * 1.0 / len(string_split(text, ' ')) * 0.5
        |      + least(len(string_split(text, ' ')), 100) / 100.0 * 0.5, 6) > 0.3)
        |    AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_quality_classifier" ->
      s"""WITH s AS (
         |  SELECT source,
         |    CAST(list_sum(list_transform(string_split(lower(text), ' '),
         |      t -> ((CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT)
         |              % $HashDim)
         |            * 2654435761 % 1000003) % 2001 - 1000))
         |      AS BIGINT) AS score
         |  FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pos,
         |  CAST(SUM(score) AS BIGINT) AS sum_score
         |FROM s GROUP BY source ORDER BY source""".stripMargin)
}

package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding subword tokenizer — trainable, persistable, and
 * consumed as a zero-shuffle per-row encode. Public-knowledge algorithm
 * (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare
 * Words with Subword Units"): start from characters, repeatedly merge the
 * most frequent adjacent symbol pair, record the merge order; encoding
 * replays the merges. This closes the engine's last token-accounting gap:
 * `token_cap`, `pack_sequences` and the token signals previously budgeted
 * in whitespace/char PROXIES, but production training pipelines budget in
 * TOKENIZER tokens (reference scope: the engine's per-document metric
 * surface, e.g. /root/reference/src/main/scala/com/etl/transformer/
 * MapTransformer.scala:40-52 — the reference has no subword tokenizer at
 * all; this is part of the LLM-pipeline superset).
 *
 * == Determinism contract (the oracle surface) ==
 *
 *   - pre-tokenization: split on Java-regex `\s+` after stripping
 *     leading/trailing `[ \t\n\f\r]` (exactly
 *     [[graft.functions.TextFunctions]]' whitespace set), case
 *     PRESERVED — no lowercasing, no punctuation splitting;
 *   - a word is its sequence of Unicode CODE POINTS (never UTF-16
 *     units — a surrogate pair is one symbol) plus a trailing
 *     end-of-word symbol `</w>`;
 *   - each training step merges the pair with the highest corpus
 *     count; ties break to the LEXICOGRAPHICALLY SMALLEST (left,
 *     right) under UTF-8 byte order (== code-point order) — so the
 *     same word-frequency table trains the same merges in any engine;
 *   - training stops at `numMerges` merges or when the best pair's
 *     count drops below `minCount` (default 2 — a pair seen once
 *     generalizes to nothing).
 *
 * == Scale shape ==
 *
 * Training touches the corpus ONCE: a word-frequency aggregate (one
 * hash-keyed shuffle with map-side partials) truncated to the
 * `maxWords` most frequent words — the classic BPE-from-word-dict
 * formulation; the merge loop itself runs driver-side over that bounded
 * table (O(maxWords·avgWordLen) state, the same bounded-driver-read
 * class as [[graft.ann.Ann.codebookFrame]]'s k-means). Encoding
 * broadcasts the merges table (O(numMerges) strings) inside a codegen'd
 * Catalyst expression ([[graft.functions.expressions.BpeEncode]]) — a
 * pure projection, zero shuffles, with a per-executor word→tokens memo
 * so a 100 TB corpus pays the merge walk once per DISTINCT word per
 * executor, not once per occurrence.
 */
object Bpe {
  /** End-of-word marker, a separate trailing symbol (Sennrich 2016 §3.2).
    * Kept on emitted tokens so detokenization stays possible. */
  val Eow = "</w>"

  /** The 256 byte-fallback tokens, `<0x00>`..`<0xFF>` — seeded into a
    * `byteFallback=true` store's alphabet so any codepoint the training
    * corpus never contained can decompose into its UTF-8 bytes at encode
    * time instead of collapsing to `<unk>` (the GPT-2/SentencePiece
    * byte-fallback idea). Multi-char strings, so they can never collide
    * with the single-codepoint corpus alphabet or [[Eow]]. */
  val ByteTokens: IndexedSeq[String] =
    (0 until 256).map(b => f"<0x$b%02X>")

  private val byteTokenIndex: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    ByteTokens.zipWithIndex.foreach { case (t, i) => m.put(t, Integer.valueOf(i)) }
    m
  }

  /** The byte value a token string denotes, or -1 when it is not one of
    * the 256 [[ByteTokens]] (exact match only). */
  def byteTokenValue(tok: String): Int = {
    val v = byteTokenIndex.get(tok)
    if (v == null) -1 else v.intValue()
  }

  /** Merge PRODUCTS that spell a reserved token (`<0xNN>` or `<unk>`).
    * Under byte fallback such a product would alias the reserved id:
    * encode emits the merged symbol, the id lookup finds the reserved
    * token, and detokenize reinterprets it as a raw byte / unk — silent
    * corruption of exactly the corpora fallback exists to protect. Only a
    * corpus whose TEXT contains literal `<0xNN>`/`<unk>` strings trained
    * deep enough to fully re-merge them can produce one; [[mergesFrame]]
    * refuses loudly at train time for `byteFallback=true` stores. */
  private[graft] def reservedCollisions(merges: Seq[(String, String)]): Seq[String] =
    merges.map { case (l, r) => l + r }
      .filter(p => byteTokenValue(p) >= 0 || p == Unk)
      .distinct

  /** Escape regex: the whole marker FAMILY `</w+>`, not just the marker —
    * escaping only `</w>` itself would map distinct inputs onto each other
    * (`</w>` → `</ww>` colliding with a literal `</ww>`). */
  private val markerFamily = java.util.regex.Pattern.compile("</(w+)>")
  private val escapedFamily = java.util.regex.Pattern.compile("</w(w+)>")

  /**
   * Marker-collision escaping (one word → one word): every literal
   * `</w{k}>` (k ≥ 1) gains one `w`. INJECTIVE over the whole family, so
   * [[unescapeMarkers]] restores it exactly, and the escaped stream never
   * contains the exact marker string [[Eow]] — which makes the decoder's
   * textual `replace(Eow, " ")` sound: every `</w>` in a decoded token
   * stream is a TRUE word-end marker, never document text. Without this,
   * text literally containing `</w>` decoded with that literal turned
   * into a space — decode(encode(text)) silently corrupted exactly the
   * web-ish corpora most likely to contain markup. Train and encode
   * share the escape (mergesFrame's Spark-side `regexp_replace` mirrors
   * this pattern), so merges learned over escaped words apply to escaped
   * encode streams. Non-marker text (every byte of the TPC-H corpus, and
   * virtually all real text) takes the indexOf fast path untouched.
   */
  def escapeMarkers(word: String): String =
    if (word.indexOf("</w") < 0) word
    else markerFamily.matcher(word).replaceAll("</$1w>")

  /** The exact inverse of [[escapeMarkers]] on the marker-replaced decode
    * stream: `</w{k}>` (k ≥ 2) loses one `w`. Applied by the decoder AFTER
    * `replace(Eow, " ")` — at that point every surviving `</ww+>` is an
    * escaped literal, and the pattern contains no space so the marker
    * replacement can neither create nor destroy a match. */
  def unescapeMarkers(text: String): String =
    if (text.indexOf("</ww") < 0) text
    else escapedFamily.matcher(text).replaceAll("</$1>")

  /** Version of the pre-tokenizer's marker-escaping scheme, stamped into
    * every [[mergesFrame]] as `bpe_escape_version` and validated on load:
    * a store trained BEFORE the `</w{k}>` escaping existed (version 0 —
    * the stamp column is absent) learned merges over RAW marker literals
    * that can never fire on the escaped encode stream, and decoding its
    * token streams would silently rewrite a legitimate `</ww>` to `</w>`
    * via [[unescapeMarkers]]. Loading such a store fails loudly with
    * rebuild guidance instead of degrading silently. */
  val EscapeVersion = 1

  /** The shared pre-tokenizer: Java `\s+` split after stripping the
    * engine's whitespace set, then marker-collision escaping per word
    * ([[escapeMarkers]] — markers never span whitespace, so per-word ==
    * whole-text). Empty/blank text → no words. */
  // hoisted: String.split("\\s+") re-compiles the Pattern on EVERY call,
  // and words() runs once per row in the encode hot path
  private val wsSplit = java.util.regex.Pattern.compile("\\s+")

  def words(text: String): Array[String] = {
    val stripped = stripWs(text)
    if (stripped.isEmpty) Array.empty
    else {
      val ws = wsSplit.split(stripped)
      // fast path for the fast path: scan once, escape only when needed
      if (stripped.indexOf("</w") < 0) ws
      else ws.map(escapeMarkers)
    }
  }

  private def stripWs(s: String): String = {
    var i = 0; var j = s.length
    def ws(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
      c == '\f' || c == '\r'
    while (i < j && ws(s.charAt(i))) i += 1
    while (j > i && ws(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  /** A word's initial symbol sequence: one string per Unicode code point
    * (a surrogate PAIR is one symbol) plus the trailing [[Eow]]. */
  def wordSymbols(word: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      out += word.substring(i, i + n)
      i += n
    }
    out += Eow
    out.result()
  }

  /** [[wordSymbols]] under byte fallback: a codepoint OUTSIDE `alphaSet`
    * (the trained store's alphabet) decomposes into its UTF-8 bytes as
    * [[ByteTokens]] — every one of which a `byteFallback=true` store seeds
    * into the alphabet, so the symbol (and its token id) always exists and
    * encode(text) of a corpus the tokenizer never saw carries ZERO `<unk>`.
    * An unpaired surrogate (no valid UTF-8) encodes as the UTF-8
    * encoder's replacement byte `?` — visible, never an exception — the
    * same convention the decoder applies (U+FFFD) to malformed byte runs;
    * well-formed text (every real corpus) is unaffected. */
  def wordSymbolsFallback(word: String,
                          alphaSet: java.util.HashSet[String]): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      val sym = word.substring(i, i + n)
      if (alphaSet.contains(sym)) out += sym
      else {
        val bytes = sym.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var b = 0
        while (b < bytes.length) { out += ByteTokens(bytes(b) & 0xff); b += 1 }
      }
      i += n
    }
    out += Eow
    out.result()
  }

  /** UTF-8 byte order == code-point order: the tie-break comparison every
    * engine can reproduce (Java String.compareTo is UTF-16 order, which
    * DISAGREES with code-point order between non-BMP and U+E000..U+FFFF). */
  private[text] def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  private def pairLess(a: (String, String), b: (String, String)): Boolean =
    if (a._1 != b._1) utf8Less(a._1, b._1)
    else a._2 != b._2 && utf8Less(a._2, b._2)

  /**
   * The pure trainer: word-frequency table → ordered merges. Deterministic
   * by the contract above regardless of `wordCounts` order. Incremental
   * pair bookkeeping (only words containing the merged pair are revisited)
   * keeps a `numMerges`-deep train over a large dictionary near-linear in
   * total symbols rather than O(numMerges · dictionary).
   */
  def train(wordCounts: Seq[(String, Long)], numMerges: Int,
            minCount: Long = 2L): Seq[(String, String)] = {
    require(numMerges >= 0, s"bpe: numMerges must be >= 0, got $numMerges")
    require(minCount >= 1, s"bpe: minCount must be >= 1, got $minCount")
    // duplicate words would double-count pairs silently — a malformed
    // word table is caller error, not data
    val syms: Array[Array[String]] =
      wordCounts.map { case (w, _) => wordSymbols(w) }.toArray
    val freq: Array[Long] = wordCounts.map(_._2).toArray
    require(freq.forall(_ >= 0), "bpe: word counts must be >= 0")

    val pairCounts = new java.util.HashMap[(String, String), Long]()
    val pairWords = new java.util.HashMap[(String, String),
      java.util.TreeSet[Integer]]()
    def addPair(p: (String, String), wi: Int, c: Long): Unit = {
      pairCounts.merge(p, c, (a, b) => a + b)
      pairWords.computeIfAbsent(p, _ => new java.util.TreeSet[Integer]())
        .add(wi)
    }
    def wordPairs(s: Array[String])(f: ((String, String)) => Unit): Unit = {
      var i = 0
      while (i + 1 < s.length) { f((s(i), s(i + 1))); i += 1 }
    }
    var wi = 0
    while (wi < syms.length) {
      val c = freq(wi)
      if (c > 0) wordPairs(syms(wi))(p => addPair(p, wi, c))
      wi += 1
    }

    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < numMerges && !done) {
      // full scan for the max: O(live pairs) per merge, deterministic
      // under the total (count desc, utf8 lex asc) order no matter the
      // hash-map iteration order
      var best: (String, String) = null
      var bestC = 0L
      val it = pairCounts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue
        if (c > bestC || (c == bestC && best != null && pairLess(e.getKey, best)))
          { best = e.getKey; bestC = c }
      }
      if (best == null || bestC < minCount) done = true
      else {
        merges += best
        val merged = best._1 + best._2
        val affected = pairWords.get(best)
        if (affected != null) {
          // TreeSet iteration = ascending word index: order does not
          // affect the commutative count updates, but determinism is
          // cheap insurance
          val ai = affected.iterator()
          val idxs = Array.newBuilder[Int]
          while (ai.hasNext) idxs += ai.next().intValue()
          idxs.result().foreach { w =>
            val old = syms(w)
            // a stale index (word no longer contains the pair after an
            // earlier merge) rebuilds identically — subtract+add is a
            // no-op, never a corruption
            val nw = mergeOnce(old, best._1, best._2, merged)
            if (!(nw eq old)) {
              val c = freq(w)
              if (c > 0) {
                wordPairs(old) { p =>
                  val left = pairCounts.merge(p, -c, (a, b) => a + b)
                  if (left <= 0) pairCounts.remove(p)
                }
                wordPairs(nw)(p => addPair(p, w, c))
              }
              syms(w) = nw
            }
          }
        }
        pairCounts.remove(best)
        m += 1
      }
    }
    merges.result()
  }

  /** One left-to-right non-overlapping pass replacing every (l, r)
    * adjacency by `lr`. Returns the SAME array instance when the pair
    * never occurs (cheap no-change check for stale indexes). */
  private def mergeOnce(s: Array[String], l: String, r: String,
                        lr: String): Array[String] = {
    var i = 0; var found = false
    while (!found && i + 1 < s.length) {
      if (s(i) == l && s(i + 1) == r) found = true else i += 1
    }
    if (!found) return s
    val out = Array.newBuilder[String]
    var j = 0
    while (j < s.length) {
      if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
        out += lr; j += 2
      } else { out += s(j); j += 1 }
    }
    out.result()
  }

  /** Rank lookup for the encoder. The value type must be the BOXED
    * Integer: with scala.Int, a missing pair's java null unboxes to 0 —
    * every un-trained pair would silently claim rank 0 and whole words
    * would collapse into single tokens (caught by BpeSpec's goldens). */
  def ranks(merges: Seq[(String, String)]): java.util.HashMap[(String, String), Integer] = {
    val m = new java.util.HashMap[(String, String), Integer]()
    merges.zipWithIndex.foreach { case (p, i) => m.put(p, Integer.valueOf(i)) }
    m
  }

  /**
   * Greedy encode of one word: repeatedly merge the LOWEST-RANK pair
   * present (all its occurrences, left to right) until none remains —
   * for merges produced by [[train]] this equals replaying the merges
   * in rank order, because a merge can only create pairs containing its
   * own output symbol, which any containing merge must outrank.
   */
  def encodeWord(word: String,
                 rank: java.util.HashMap[(String, String), Integer]): Array[String] =
    encodeWord(word, rank, null)

  /** [[encodeWord]] with byte fallback: `alphaSet` non-null switches the
    * initial decomposition to [[wordSymbolsFallback]] (out-of-alphabet
    * codepoints become UTF-8 byte tokens before the merge walk — a byte
    * token participates in merges only if the store was trained with some,
    * which a corpus-alphabet store never is). */
  def encodeWord(word: String,
                 rank: java.util.HashMap[(String, String), Integer],
                 alphaSet: java.util.HashSet[String]): Array[String] = {
    var s = if (alphaSet == null) wordSymbols(word)
            else wordSymbolsFallback(word, alphaSet)
    var loop = true
    while (loop && s.length > 1) {
      var bestRank = Int.MaxValue
      var bl: String = null; var br: String = null
      var i = 0
      while (i + 1 < s.length) {
        val r = rank.get((s(i), s(i + 1)))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bl = s(i); br = s(i + 1)
        }
        i += 1
      }
      if (bl == null) loop = false
      else s = mergeOnce(s, bl, br, bl + br)
    }
    s
  }

  /** Encode full text: pre-tokenize, encode each word, concatenate. */
  def encode(text: String,
             rank: java.util.HashMap[(String, String), Integer]): Array[String] = {
    val out = Array.newBuilder[String]
    words(text).foreach(w => out ++= encodeWord(w, rank))
    out.result()
  }

  // ---------------------------------------------------------------- store

  /**
   * Train over a corpus column and return the persistable MERGES STORE
   * frame — one row per merge (kind='merge': merge_rank, lhs, rhs) plus
   * one row per ALPHABET symbol (kind='alpha': rank in UTF-8 order,
   * lhs=symbol, rhs=null — what [[loadVocab]] needs to assign stable
   * dense token ids), the parameter stamps it was trained with
   * (`bpe_num_merges`/`bpe_min_count`/`bpe_max_words`, RLE'd to ~nothing
   * in parquet) and the PRODUCED counts `bpe_rows`/`bpe_alpha_rows`
   * (merges can be < numMerges when the pair supply dries up —
   * [[loadMerges]] checks both against the loaded row counts so a store
   * that silently lost tail rows cannot pass). Write it after corpus build N;
   * run N+1 re-loads the parquet and tokenizes against it via a view —
   * the [[graft.ann.Ann.codebookFrame]] incremental pattern, applied to
   * the tokenizer so token budgets stay comparable across runs.
   *
   * The corpus pass is ONE word-frequency aggregate truncated to the
   * `maxWords` most frequent words (ties to the utf8-smaller word, so
   * the truncation boundary is engine-stable); everything after is
   * bounded driver work.
   */
  def mergesFrame(corpus: DataFrame, textCol: String, numMerges: Int = 1000,
                  maxWords: Int = 100000, minCount: Long = 2L,
                  byteFallback: Boolean = false): DataFrame = {
    require(maxWords >= 1, s"bpe: maxWords must be >= 1, got $maxWords")
    val spark = corpus.sparkSession
    import spark.implicits._
    // the same \s+ / strip semantics as words(): trim the engine
    // whitespace set, split, drop empties (blank docs produce one "" slot).
    // The distinct-word count frame feeds TWO consumers (top-maxWords for
    // training, the full alphabet) — lazily checkpointed so the corpus is
    // tokenized and aggregated ONCE (the tfidf sharedTf pattern).
    val wcFull = graft.api.Checkpointing.checkpoint(corpus
      .select(explode(split(trim(col(textCol), " \t\n\u000B\f\r"), "\\s+"))
        .as("__w0"))
      .where(col("__w0") =!= "")
      // the Spark-side mirror of words()'s escapeMarkers: train and encode
      // MUST see the same character stream, or merges learned over raw
      // `</w>` literals would never fire on the escaped encode stream
      .select(regexp_replace(col("__w0"), "</(w+)>", "</$1w>").as("__w"))
      .groupBy("__w").count(),
      eager = false)
    val wc = wcFull
      .orderBy(col("count").desc, col("__w").asc)
      .limit(maxWords)
      .as[(String, Long)].collect()
    // an empty/blank corpus must fail HERE, at train time, with its real
    // cause — a zero-row store would otherwise persist fine and only blow
    // up at the NEXT run's loadStore with a misleading "mixed or null
    // parameter stamps" error (the stamp distinct over zero rows is empty)
    if (wc.isEmpty)
      throw new graft.api.ConfigException(
        s"bpe_train: corpus column '$textCol' produced no words (every row " +
          "null, empty, or whitespace-only) — a tokenizer cannot be trained " +
          "on an empty word table; check the source filter or the column name")
    // collect() after orderBy preserves the sort, but train() is
    // order-independent anyway — double determinism
    val merges = train(wc.toSeq, numMerges, minCount)
    // the ALPHABET: every initial symbol (code point + Eow) of every
    // DISTINCT corpus word — derived from the FULL word set, not the
    // truncated training table, so a rare character outside the
    // top-maxWords words still gets a token id instead of <unk>. A
    // zero-merge BpeEncode IS wordSymbols(), so the symbol explode
    // reuses the codegen'd encoder; the distinct set is alphabet-sized
    // (bounded by Unicode), a trivial driver read. (BpeEncode re-runs
    // words()' escapeMarkers on the already-escaped __w — escaping is not
    // idempotent, but it is char-set-preserving (only adds 'w's), and the
    // alphabet is a set of single CODEPOINTS, so the double pass is
    // harmless here and only here.)
    val corpusAlpha = wcFull
      .select(explode(graft.functions.expressions.BpeEncode(col("__w"), Nil))
        .as("sym"))
      .distinct().as[String].collect()
    // byteFallback seeds the 256 byte tokens into the alphabet — multi-char
    // strings, so they can never collide with the single-codepoint corpus
    // symbols or Eow; the union sorts back into one UTF-8-ordered rank
    // sequence, keeping loadVocab's id rule a pure function of the store
    val alpha = (if (byteFallback) (corpusAlpha ++ ByteTokens).distinct
                 else corpusAlpha).sortWith(utf8Less)
    if (byteFallback) {
      val colliding = reservedCollisions(merges)
      if (colliding.nonEmpty)
        throw new graft.api.ConfigException(
          s"bpe_train: byteFallback=true but merge product(s) " +
            s"${colliding.distinct.mkString(", ")} collide with reserved " +
            "byte-fallback/<unk> tokens (the corpus contains those literal " +
            "strings and numMerges is deep enough to re-assemble them) — " +
            "lower numMerges, pre-clean the corpus, or train without " +
            "byteFallback")
    }
    val alphaRows = alpha.toSeq.zipWithIndex.map { case (s, i) =>
      ("alpha", i, s, null: String) }
    val mergeRows = merges.zipWithIndex.map { case ((l, r), i) =>
      ("merge", i, l, r) }
    (alphaRows ++ mergeRows)
      .toDF("kind", "merge_rank", "lhs", "rhs")
      .select(col("kind"), col("merge_rank"), col("lhs"), col("rhs"),
        lit(numMerges).as("bpe_num_merges"),
        lit(minCount).as("bpe_min_count"),
        lit(maxWords).as("bpe_max_words"),
        lit(merges.length).as("bpe_rows"),
        lit(alpha.length).as("bpe_alpha_rows"),
        lit(byteFallback).as("bpe_byte_fallback"),
        lit(EscapeVersion).as("bpe_escape_version"))
  }

  /**
   * Load + validate a persisted [[mergesFrame]] store back into the
   * ordered merges list (O(numMerges) driver read). The loud-store
   * contract shared with the signature/gram/codebook stores: required
   * stamp columns, single-valued stamps that match what the caller
   * requests (`want*` empty = "whatever the store was built with"), a
   * dense non-null 0..n-1 rank sequence, and a row count equal to the
   * produced-count stamp — a hole, duplicate, or lost tail would make
   * every token count silently mean something else.
   */
  def loadMerges(store: DataFrame, wantNumMerges: Option[Int] = None,
                 wantMinCount: Option[Long] = None): Seq[(String, String)] =
    load(store, wantNumMerges, wantMinCount).merges

  /**
   * Everything one validated store read yields: the alphabet and merges in
   * rank order plus the `byteFallback` training stamp — the bundle the
   * encode/decode expressions configure from, so a consumer can never pair
   * a byte-fallback store with a non-fallback encoder (the failure the
   * stamp exists to prevent). `vocab` derives the id assignment lazily
   * (the [[loadVocab]] rule).
   */
  final case class Loaded(alpha: Seq[String], merges: Seq[(String, String)],
                          byteFallback: Boolean) {
    lazy val vocab: IndexedSeq[String] = {
      val out = Vector.newBuilder[String]
      val seen = new java.util.HashSet[String]()
      def add(t: String): Unit = if (seen.add(t)) out += t
      add(Unk)
      alpha.foreach(add)
      merges.foreach { case (l, r) => add(l + r) }
      out.result()
    }
  }

  /** One validated store read → the full [[Loaded]] bundle. */
  def load(store: DataFrame, wantNumMerges: Option[Int] = None,
           wantMinCount: Option[Long] = None): Loaded =
    loadStore(store, wantNumMerges, wantMinCount)

  /** The id 0 token: any symbol outside the trained vocabulary (a
    * character the training corpus never contained) encodes to this id. */
  val Unk = "<unk>"

  /**
   * The token-id VOCABULARY derived from a persisted [[mergesFrame]]
   * store, position = id: `[[Unk]]` at 0, then the alphabet in UTF-8
   * order (store alpha ranks), then each merge's product in merge order
   * (a product string two merge paths both produce keeps its FIRST id —
   * later duplicates are skipped, exactly once, on every engine). The
   * rule is a pure function of the store, so ids persisted by one run
   * and ids computed by the next can never disagree without the loud
   * stamp checks firing first.
   */
  def loadVocab(store: DataFrame, wantNumMerges: Option[Int] = None,
                wantMinCount: Option[Long] = None): IndexedSeq[String] =
    load(store, wantNumMerges, wantMinCount).vocab

  /** [[loadVocab]] as a (token_id, token) frame — the export/join-back
    * surface (detokenize persisted id sequences in plain SQL). */
  def vocabFrame(store: DataFrame, wantNumMerges: Option[Int] = None,
                 wantMinCount: Option[Long] = None): DataFrame = {
    val spark = store.sparkSession
    import spark.implicits._
    loadVocab(store, wantNumMerges, wantMinCount).zipWithIndex
      .map { case (t, i) => (i, t) }.toDF("token_id", "token")
  }

  /** Shared validated read: alphabet + merges in rank order plus the
    * byte-fallback stamp — ONE driver collect, the stamps read from the
    * collected rows ([[graft.operators.Stores]] holds the shared checks).
    * `bpe_byte_fallback` is OPTIONAL for compatibility with stores written
    * before the stamp existed — absent means false (those stores were
    * trained without fallback by construction); present, it must be one
    * non-null value like every other stamp. */
  private def loadStore(store: DataFrame, wantNumMerges: Option[Int],
                        wantMinCount: Option[Long]): Loaded = {
    import graft.operators.Stores
    val rows = Stores.collect(store, Stores.BpeMerges, Seq(col("kind"),
      col("merge_rank").cast("int"), col("lhs"), col("rhs")))
    val st = Stores.stampsOf(Stores.BpeMerges, rows, 4, wantNumMerges, wantMinCount)
    val byteFallback = st(5).asInstanceOf[Boolean]
    // absent stamp = version 0: a store trained before marker escaping
    // existed — unlike bpe_byte_fallback, "absent" here is NOT compatible:
    // its merges were learned over raw `</w>` literals
    val escVer = st(6).asInstanceOf[Int]
    if (escVer != EscapeVersion)
      throw new graft.api.ConfigException(
        s"bpe merges store carries escape-version stamp $escVer but this " +
          s"engine's pre-tokenizer is at version $EscapeVersion — merges " +
          "learned over a differently-escaped character stream would never " +
          "fire (and decodes would corrupt literal `</w{k}>` text); " +
          "rebuild the store with bpe_train" +
          (if (escVer == 0) " (version 0 = trained before marker escaping " +
            "existed: the stamp column is absent)" else ""))
    def kind(k: String) = rows.filter(r => !r.isNullAt(0) && r.getString(0) == k)
    val (alphaAll, mergeAll) = (kind("alpha"), kind("merge"))
    if (mergeAll.length + alphaAll.length != rows.length)
      throw new graft.api.ConfigException(
        "bpe merges store contains rows whose kind is neither 'alpha' nor " +
          "'merge' — a hand-edited or corrupted store; rebuild it")
    def dense(k: String, rs: Array[org.apache.spark.sql.Row], produced: Any,
              rhsNullable: Boolean) = {
      val sorted = Stores.denseOrder(s"bpe merges store $k ranks",
        rs.map(_.get(1)).toIndexedSeq, produced.asInstanceOf[Int]).map(rs(_))
      sorted.find(r => r.isNullAt(2) || (!rhsNullable && r.isNullAt(3)))
        .foreach(r => throw new graft.api.ConfigException(
          s"bpe merges store $k rank ${r.getInt(1)} carries a null token — " +
            "a hand-edited or corrupted store; rebuild it"))
      sorted
    }
    val mergeRows = dense("merge", mergeAll, st(3), rhsNullable = false)
    val alphaRows = dense("alpha", alphaAll, st(4), rhsNullable = true)
    val alpha = alphaRows.map(_.getString(2)).toSeq
    if (byteFallback) {
      // the fallback contract is only sound when every byte token has an
      // id — a filtered/hand-edited store missing one would quietly turn
      // fallback encodes into <unk> again, the exact failure the stamp
      // promises away
      val alphaSet = new java.util.HashSet[String](java.util.Arrays.asList(
        alpha: _*))
      val lost = ByteTokens.filterNot(alphaSet.contains)
      if (lost.nonEmpty)
        throw new graft.api.ConfigException(
          s"bpe merges store is stamped byteFallback=true but its alphabet " +
            s"is missing ${lost.length} of the 256 byte tokens (first: " +
            s"${lost.head}) — a filtered or hand-edited store; rebuild it " +
            "with bpe_train byteFallback=true")
    }
    Loaded(alpha,
      mergeRows.map(r => (r.getString(2), r.getString(3))).toSeq,
      byteFallback)
  }
}

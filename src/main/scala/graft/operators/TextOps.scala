package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared column builders for the text/dedup pipeline operators.
  *
  * Everything here is built from codegen'd Catalyst expressions (no UDFs) and
  * — deliberately — from primitives that exist with identical semantics in
  * DuckDB, so every operator downstream is exactly checkable against the
  * driver's oracle: md5 hex strings are the hash function, lexicographic
  * min over hex strings is the "min-hash", integer arithmetic everywhere.
  *
  * Scale notes: all of these are per-row narrow transformations — no shuffle,
  * fully parallel, whole-stage-codegen'd. The only shuffles in the dedup
  * operators are the LSH band joins (hash-partitioned on band signature),
  * which is the scalable formulation for ~100 TB corpora.
  */
object TextOps {

  /** Lowercased whitespace tokens, empties dropped (the drop is a native
    * codegen expression since r14 — the HOF filter ran its lambda
    * interpreted once per token on every text operator's hot path).
    * DuckDB twin: `list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t != '')` */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graftbridge.GraftSqlBridge.column(
      graft.functions.NonEmptyStrings(
        org.apache.spark.sql.graftbridge.GraftSqlBridge.expression(
          split(lower(trim(text)), "\\s+"))))

  /** Distinct k-word shingles joined by a single space — since r14 a
    * native codegen expression ([[graft.functions.WordShinglesArray]]):
    * the HOF form (`array_distinct(transform(sequence(...), i ->
    * concat_ws(" ", slice(toks, i, k))))`) evaluated interpreted, copied
    * a k-token slice per window, and measured 60% of the substring
    * family's wall time (tools/SubstrProbe as of `3e0ff69`). Output
    * identical, including null-token skipping and first-occurrence
    * distinct order.
    * DuckDB twin: `list_distinct(list_transform(range(1, greatest(len(toks)-k+1,0)+1),
    *   i -> array_to_string(toks[i:i+k-1], ' ')))` */
  def wordShingles(toks: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.GraftSqlBridge.column(
      graft.functions.WordShinglesArray(
        org.apache.spark.sql.graftbridge.GraftSqlBridge.expression(toks), k))

  /** Lowercased trimmed text — project this ONCE and feed the attribute to
    * [[charShingles]]. */
  def normText(text: Column): Column = lower(trim(text))

  /** Distinct character n-grams of pre-normalized text `lt` (an attribute
    * produced by [[normText]]) — native codegen expression since r14,
    * like [[wordShingles]].
    * DuckDB twin: `list_distinct(list_transform(range(1, greatest(length(t)-n+1,0)+1),
    *   i -> t[i:i+n-1]))` */
  def charShingles(lt: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.GraftSqlBridge.column(
      graft.functions.CharShinglesArray(
        org.apache.spark.sql.graftbridge.GraftSqlBridge.expression(lt), n))

  /** md5 hex of a string column — the cross-engine hash primitive. */
  def md5s(c: Column): Column = md5(c.cast("binary"))

  /** 2-universal hash family over the Mersenne prime 2³¹−1, shared by
    * every MinHash consumer ([[graft.operators.Dedup]],
    * [[graft.operators.Curation.sourceOverlap]]): one md5 per shingle,
    * its 15-hex-digit prefix parsed as a 60-bit int, then K linear maps
    * `h_k(x) = (x·A_k + B_k) mod M`. Replaces the earlier K-salted-md5s
    * scheme: 1/K-th the hashing on the corpus-sized stage, LONG-typed
    * mins (HashAggregate-able, 8-byte shuffle rows), and — because a
    * shingle's K hashes are derivable from one value — no shingle
    * DICTIONARY join is ever needed to amortize hashing.
    * Products stay < 2⁶², exact in both engines' 64-bit arithmetic
    * (DuckDB raises on BIGINT overflow rather than wrapping).
    * M = 2³¹−1 is the largest modulus whose products fit a Long without
    * split multiplication (2⁶¹−1 would overflow); the cost is a 2³¹ hash
    * space, so at ≳10⁹ DISTINCT corpus shingles base-hash collisions bias
    * Jaccard estimates upward by ~n/2M. Every dedup consumer is
    * insulated — banded keys are re-md5'd and candidates exact-verified —
    * and [[graft.operators.Curation.sourceOverlap]]'s per-source
    * estimates tolerate the ~0.1%-at-10⁹ bias; revisit only if a raw
    * signature ships as a public artifact at that cardinality.
    * DuckDB twins: base `('0x' || substr(md5(s), 1, 15))::BIGINT % M`,
    * then `(hv * A_k + B_k) % M`. */
  val HashPrime = 2147483647L
  def hashConstants(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { k =>
      (((2654435761L * (k + 1)) % HashPrime).max(1L),
        (40503L * (k + 17)) % HashPrime)
    }

  /** 60-bit base hash of a shingle for the universal family. */
  def baseHash(s: Column): Column =
    conv(substring(md5s(s), 1, 15), 16, 10).cast("long") % HashPrime

  /** MinHash signature from a shingle array: element k is the min of
    * `h_k(baseHash(s))` over the shingles. Returns `array<long>` of
    * length `numHashes` (null elements if no shingles). Operators that
    * explode shingles anyway ([[Dedup]]) should instead project
    * [[baseHash]] once per shingle row and take `min((hv*A+B)%M)` aggs —
    * same values, partial-aggregated. */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    val consts = hashConstants(numHashes)
    val hv = transform(shingles, s => baseHash(s))
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      k => {
        val a = element_at(typedLit(consts.map(_._1)), k.cast("int") + 1)
        val b = element_at(typedLit(consts.map(_._2)), k.cast("int") + 1)
        array_min(transform(hv, x => (x * a + b) % HashPrime))
      })
  }

  /** LSH band keys for a minhash signature: `numBands` bands of `rowsPerBand`
    * signature elements hashed together. Returns `array<string>` of band
    * hashes; element b covers sig[b*r .. b*r+r-1]. Sig elements may be
    * any type rendered identically by both engines' string cast (long,
    * string). */
  def lshBands(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(numBands - 1)),
      b => md5s(concat( // concat, NOT concat_ws: null sig (empty doc) must
        // yield a null band like DuckDB's `||`, never a joinable value
        (0 until rowsPerBand).flatMap(r =>
          Seq(lit("|"), element_at(sig, b * rowsPerBand + r + 1).cast("string"))).tail: _*)))

  /** Exact Jaccard similarity of two distinct-element arrays, scaled to an
    * exact integer: `round(j * 10000)` as BIGINT (order-independent,
    * cross-engine exact). Native count-only kernel since r15 — the column
    * form (`round(size(array_intersect(a, b)) * 10000.0 / (size(a) +
    * size(b) - size(array_intersect(a, b))), 0)`) materialized the
    * intersection array per candidate pair just to count it;
    * [[graft.functions.JaccardE4]] counts in one pass, bit-identically
    * (JaccardKernelSpec differential-fuzzes the two forms). */
  def jaccardE4(a: Column, b: Column): Column =
    graft.functions.JaccardE4(a, b)

  /** Value 0..15 of the hex digit at 1-based position `pos` of md5-hex `h`.
    * DuckDB twin: `strpos('0123456789abcdef', h[pos]) - 1`. */
  def hexValAt(h: Column, pos: Column): Column =
    call_function("position", substring2(h, pos), lit("0123456789abcdef")).cast("int") - 1

  private def substring2(c: Column, pos: Column): Column =
    c.substr(pos, lit(1))

  /** 64-bit SimHash of a token multiset, as a 16-char lowercase hex string.
    *
    * Classic Charikar sketch: every token hashes to 64 bits (md5 prefix);
    * each bit contributes +1/-1 to a 64-long accumulator; the sketch bit is
    * 1 iff the accumulated weight is > 0. Hex-digit arithmetic (4 bits per
    * md5 hex char) keeps it exactly reproducible in SQL. */
  /** ±1 bit-weight vector (64 longs) of one token's md5: one hex lookup per
    * nibble (16), expanded to 4 bit-weights each — not one lookup per bit. */
  def tokenBitWeights(tok: Column): Column = {
    val h = md5s(tok)
    flatten(transform(sequence(lit(0), lit(15)), n => {
      val hv = hexValAt(h, n + 1)
      array((3 to 0 by -1).map(sh =>
        ((shiftright(hv, sh) % 2) * 2 - 1).cast("long")): _*)
    }))
  }

  /** Fold a 64-long signed-weight accumulator into the 16-hex-char
    * fingerprint (bit = 1 iff weight > 0, MSB-first nibbles). */
  def simhashHex(acc: Column): Column =
    concat(
      (0 until 16).map { nib =>
        val v = (0 until 4).map { j =>
          val w = element_at(acc, nib * 4 + j + 1)
          when(w > 0, lit(1 << (3 - j))).otherwise(lit(0))
        }.reduce(_ + _)
        substring2(lit("0123456789abcdef"), v + 1)
      }: _*)

  def simhash64(toks: Column): Column =
    simhashHex(aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (a, t) => zip_with(a, tokenBitWeights(t), (cur, w) => cur + w)))

  /** Hamming distance between two equal-length hex fingerprints. */
  def hammingHex(a: Column, b: Column, hexLen: Int): Column = {
    // popcount of a 0..15 nibble via lookup table
    val pop = "0112122312232334"
    (1 to hexLen).map { i =>
      val x = hexValAt(a, lit(i)).bitwiseXOR(hexValAt(b, lit(i)))
      (ascii(substring2(lit(pop), x + 1)) - lit(48)).cast("long")
    }.reduce(_ + _)
  }
}

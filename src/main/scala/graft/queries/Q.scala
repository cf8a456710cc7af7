package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named engine query plus (when SQL-expressible) its DuckDB oracle.
  * `bench` puts the query in the timed battery of [[graft.Bench]]. */
case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String],
             bench: Boolean = false)

/** SQL fragments for the DuckDB oracles. Floating-point policy: every
  * reorderable aggregate goes through DECIMAL (exact, associative) and is
  * cast to DOUBLE at the end; per-row double arithmetic is deterministic
  * and identical across engines, so derived expressions need no rounding.
  */
object Sql {
  /** order-independent exact sum of a double expression, as double.
    * DECIMAL(18,6) matches graft.api.functions.dsum (same 6-dp rounding
    * of the same per-row doubles → identical sums). The final double
    * conversion goes VIA VARCHAR: DuckDB's direct DECIMAL→DOUBLE cast
    * double-rounds through the hugeint (1 ulp off once the unscaled sum
    * exceeds 2^53 — two q137 groups at sf1, probed directly), while its
    * string parse — like the JVM's BigDecimal.doubleValue on the Spark
    * side — is correctly rounded, so both engines land on the nearest
    * double of the same exact decimal. */
  def dsum(e: String): String =
    s"CAST(CAST(SUM(CAST($e AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"
  /** exact mean of a double expression, as double (nulls skipped). */
  def davg(e: String): String = s"(${dsum(e)} / COUNT($e))"
  /** exact bigint sum (DuckDB SUM(int) is HUGEINT — normalize). */
  def isum(e: String): String = s"CAST(SUM($e) AS BIGINT)"
  /** graft.api.Frame.portableMix in ANSI SQL — identical arithmetic. */
  def mix(e: String): String =
    s"((((($e) % 2147483647) * 2654435761 + 2246822519) % 2147483647) * 2246822519 % 2147483647)"
  /** TextAnalysis.portableWordHash's char polynomial in DuckDB SQL:
    * fold (acc·31 + codepoint) mod 2³¹−1 over the word's characters
    * (DuckDB ascii() and Spark ascii() both return the Unicode code
    * point of the first character — verified incl. CJK). `w` is a SQL
    * expression yielding the word. */
  def charPoly(w: String): String =
    s"list_reduce(list_prepend(7::BIGINT, list_transform(string_split_regex($w,''), " +
      "c -> ascii(c)::BIGINT)), (acc, x) -> (acc * 31 + x) % 2147483647)"
  /** TextAnalysis.portableWordHash in DuckDB SQL. */
  def wordHash(w: String): String = mix(charPoly(w))

  // ---- operator replays: each CTE chain that several oracles share is
  // built here once. Each returns CTE definitions (or a subquery) for the
  // caller's WITH list; the names it defines are in its scaladoc.

  /** The running token offset of Packing.packConcat / Mixture.
    * tokenBudgetSelect: the tokens (`ntok`) of every row before this one
    * in `order`, within `partition` (a column list, or none), plus
    * `start`. */
  def tokenOffset(order: String, partition: String = "",
                  start: String = "0"): String = {
    val by = if (partition.isEmpty) "" else s"PARTITION BY $partition "
    s"""CAST(SUM(ntok) OVER (${by}ORDER BY $order
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok
          + $start AS BIGINT)"""
  }

  /** Packing.packConcat with the registry's maxLen = 1000, as a
    * subquery: every row of `rel` with `ntok` = `tokens` > 0 gets its
    * stream offset `cb` ([[tokenOffset]] over `order`, from `start`)
    * and one row per 1000-token pack its tokens touch: `pack_id` and
    * the row-relative span [`tok_start`, `tok_end`). `rel`'s own
    * columns ride along; it must not have `ntok` or `cb` columns. */
  def packs(rel: String, tokens: String, order: String = "doc_id",
            start: String = "0"): String =
    s"""(SELECT *,
          CAST(greatest(pack_id * 1000, cb) - cb AS BIGINT) AS tok_start,
          CAST(least((pack_id + 1) * 1000, cb + ntok) - cb AS BIGINT)
            AS tok_end
        FROM (SELECT *, unnest(generate_series(cb // 1000,
            (cb + ntok - 1) // 1000)) AS pack_id
          FROM (SELECT *, ${tokenOffset(order, start = start)} AS cb
            FROM (SELECT *, CAST($tokens AS BIGINT) AS ntok FROM $rel
              WHERE $tokens > 0))))"""

  /** Exact word 3-gram shingle overlap of document pairs (Dedup's n-gram
    * convention). `a` and `b` are relations with `doc_id` and the `text`
    * column; a doc's shingles are its distinct space-split word
    * trigrams (none under three words). With no `b`, pairs are drawn
    * within `a` (shingle set `sh`; `dfCap` > 0 first drops shingles held
    * by more than `dfCap` docs); else from `a` (`ash`) to `b` (`bsh`).
    * Either way `on` filters the pair and `pairs(d1, d2, na, nb, jac,
    * cont)` holds those satisfying `keep`: the set sizes, the Jaccard
    * resemblance and the containment |A∩B| / min(|A|, |B|). */
  def shinglePairs(keep: String, a: String = "documents", b: String = "",
                   text: String = "text", on: String = "a.doc_id < b.doc_id",
                   dfCap: Int = 0): String = {
    def set(p: String, rel: String) =
      s"""${p}sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, greatest(len(w) - 1, 1)),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
          FROM (SELECT doc_id, string_split($text, ' ') AS w FROM $rel)
          WHERE len(w) >= 3)"""
    val (sa, sb) = if (b.isEmpty) ("sh", "sh") else ("ash", "bsh")
    val sets =
      if (b.nonEmpty) s"${set("a", a)},\n${set("b", b)}"
      else if (dfCap > 0)
        s"""${set("all", a)},
        sh AS (SELECT doc_id, s FROM allsh SEMI JOIN (SELECT s FROM allsh
          GROUP BY s HAVING COUNT(*) <= $dfCap) USING (s))"""
      else set("", a)
    s"""$sets,
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        FROM $sa a JOIN $sb b ON a.s = b.s AND $on GROUP BY 1, 2),
      pairs AS (SELECT * FROM (SELECT d1, d2, na, nb,
          CAST(i AS DOUBLE) / (na + nb - i) AS jac,
          CAST(i AS DOUBLE) / least(na, nb) AS cont
        FROM inter
          JOIN (SELECT doc_id AS d1, COUNT(*) AS na FROM $sa GROUP BY 1)
            USING (d1)
          JOIN (SELECT doc_id AS d2, COUNT(*) AS nb FROM $sb GROUP BY 1)
            USING (d2))
        WHERE $keep)"""
  }

  /** Connected components of the undirected edge list `edgeList(d1,
    * d2)`: `comp(node, component)`, each node labelled by its
    * component's least id through the recursive closure `reach` over
    * `edges` and `nodes` — the caller's WITH must be RECURSIVE. */
  def components(edgeList: String): String =
    s"""edges AS (SELECT d1 AS a, d2 AS b FROM $edgeList
          UNION SELECT d2, d1 FROM $edgeList),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach AS (SELECT node, node AS r FROM nodes
          UNION SELECT e.a AS node, reach.r FROM edges e
            JOIN reach ON e.b = reach.node),
        comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)"""

  /** One BPE merge round (Bpe/ByteBpe fit with numMerges = 1, then
    * encode), each word spelled as its characters plus '</w>'.
    * `top1(p1, p2)` is the most frequent adjacent symbol pair over the
    * word counts `counts(w, c)` (ties to the least pair; none below 2).
    * `enc(w, nt)` is the token count of each word of `words(w)` after
    * that merge: greedy encode with one merge is one left-to-right pass,
    * so each replacement in the chr(1)-joined spelling deletes one
    * separator (words hold no chr(1), '<', '/' or '>', so symbol
    * boundaries cannot false-match). */
  def bpeMerge1(counts: String, words: String): String = {
    val syms = "list_append(string_split(w, ''), '</w>') AS syms"
    s"""bp AS (SELECT c, unnest(list_transform(range(1, len(syms)),
            i -> {'p1': syms[i], 'p2': syms[i + 1]})) AS pr
          FROM (SELECT c, $syms FROM $counts)),
        top1 AS (SELECT pr.p1 AS p1, pr.p2 AS p2 FROM bp GROUP BY 1, 2
          HAVING SUM(c) >= 2 ORDER BY SUM(c) DESC, p1, p2 LIMIT 1),
        enc AS (SELECT s.w, CAST(len(syms) - COALESCE(
            len(array_to_string(syms, chr(1))) -
            len(replace(array_to_string(syms, chr(1)),
              t.p1 || chr(1) || t.p2, t.p1 || t.p2)), 0) AS INTEGER) AS nt
          FROM (SELECT w, $syms FROM $words) s LEFT JOIN top1 t ON 1 = 1)"""
  }

  /** The partial oracle of a row that materializes per-doc zlib ratios
    * (`dump`, read back from Verify's output). `ctes` defines
    * `base(doc_id, source, is_empty)`, the exact expected key set. Every
    * membership defect of the dump meets a sentinel: a missing key
    * -888, a duplicated key -777, an extra key the row count. The NULL
    * pattern is checked both ways: empty text must be NULL, and a
    * spurious NULL meets -999. Only the double's value rides the
    * self-join. */
  def ratioMembership(dump: String, ctes: String): String =
    s"""WITH m AS (SELECT * FROM
          read_parquet('__GRAFT_OUT__/$dump/*.parquet')),
        $ctes
        SELECT b.doc_id, b.source,
          CASE WHEN g.cnt IS NULL THEN -888.0
               WHEN g.cnt <> 1 THEN -777.0
               WHEN b.is_empty THEN CAST(NULL AS DOUBLE)
               WHEN g.cratio IS NULL THEN -999.0
               ELSE g.cratio END AS cratio
        FROM base b LEFT JOIN
          (SELECT doc_id, source, MIN(cratio) AS cratio, COUNT(*) AS cnt
           FROM m GROUP BY 1, 2) g
          ON b.doc_id = g.doc_id AND b.source IS NOT DISTINCT FROM g.source
        ORDER BY b.doc_id"""

  /** Product quantization of `embeddings` (Embeddings.pqEncode over
    * pqInitCodebooks: 64 dims, 8 subspaces of 8, codebook rows every
    * 100th vec_id). Defines `cent(cid, embedding)`, `e(vec_id,
    * embedding)` and, per subspace s, `b<s>(vec_id, cid)`: the nearest
    * centroid by d = ||c||² − 2·x·c (sequential folds; ties to the lower
    * cid). */
  val pqCodes: String = {
    def nearest(s: Int) = {
      val off = s * 8
      s"""a$s AS (SELECT e.vec_id, c.cid,
            list_sum(list_transform(range(1, 9),
              i -> CAST(c.embedding[$off + i] AS DOUBLE)
                * CAST(c.embedding[$off + i] AS DOUBLE)))
            - 2 * list_sum(list_transform(range(1, 9),
              i -> CAST(e.embedding[$off + i] AS DOUBLE)
                * CAST(c.embedding[$off + i] AS DOUBLE))) AS d
          FROM e CROSS JOIN cent c),
        b$s AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM a$s) WHERE rn = 1)"""
    }
    s"""cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1
            AS cid, embedding FROM embeddings WHERE vec_id % 100 = 0),
        e AS (SELECT vec_id, embedding FROM embeddings),
        ${(0 until 8).map(nearest).mkString(",\n")}"""
  }

  /** PQ asymmetric distances over [[pqCodes]]: `sd(qid, vec_id, adist)`,
    * each coded row's Σ over subspaces of the squared difference between
    * the query `q.qv` and the row's centroid, for the rows `join` (which
    * must bring in `q`) pairs with a query. */
  def pqAdc(join: String): String = {
    def lut(s: Int) = {
      val off = s * 8
      s"""list_sum(list_transform(range(1, 9),
          i -> (CAST(q.qv[$off + i] AS DOUBLE)
              - CAST(c$s.embedding[$off + i] AS DOUBLE))
            * (CAST(q.qv[$off + i] AS DOUBLE)
              - CAST(c$s.embedding[$off + i] AS DOUBLE))))"""
    }
    s"""sd AS (SELECT q.qid, e.vec_id,
          ${(0 until 8).map(lut).mkString(" + ")} AS adist
        FROM e ${(0 until 8).map(i =>
          s"JOIN b$i ON e.vec_id = b$i.vec_id").mkString(" ")}
          ${(0 until 8).map(i =>
          s"JOIN cent c$i ON c$i.cid = b$i.cid").mkString(" ")}
          $join)"""
  }
}

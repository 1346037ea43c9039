package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pay quadratic similarity work once per DISTINCT content, not once
  * per document — the grouping step shared by the near-dup family
  * (MinHash, containment and SimHash in [[Dedup]], embedding LSH in
  * [[AnnLsh]], [[SemDedup]] cells, the pair-metric scaffold in
  * [[TextStats]]).
  *
  * Every score those operators compute between two documents is a
  * function of the two CONTENTS alone: the shingle set, the token
  * sequence, the 64-bit signature or the vector. Documents with equal
  * content are therefore interchangeable in every pair they take part
  * in. Yet verbatim copies land in the same candidate bucket in every
  * band or table, square its self-join, and re-pay each verify per
  * copy. The combinator:
  *   - [[members]] groups ids by content in one window pass:
  *     `(id, sid = min(id) over content, cnt, content)`;
  *   - [[reps]] keeps one representative per group (`id = sid`),
  *     carrying its content, so the caller runs its candidate join and
  *     verify over distinct contents only;
  *   - [[pairs]] expands the representative pairs back to every member
  *     pair across the two groups, and adds the pairs WITHIN each group,
  *     scored by the caller's own score on the group's content paired
  *     with itself and kept by the caller's own threshold. No score is
  *     assumed: jaccard(A, A), |A|/|A|, hamming(s, s) and cosine(v, v)
  *     all come from this one code path.
  *
  * The quadratic stage shrinks by the square of the mean group size,
  * while the expansion is sized by the true OUTPUT (the member pairs
  * the ungrouped join would have emitted anyway). On a duplicate-free
  * corpus every doc is its own representative and the grouping costs
  * one window pass, which shuffles the content once.
  *
  * The group key is the exact content column — a set must arrive in a
  * canonical order (`array_sort`). There is no digest and no separator:
  * a joined-string key such as `md5(concat_ws(sep, tokens))` merges
  * `["x<sep>y"]` with `["x", "y"]` whenever a token can contain `sep`,
  * and then scores two different documents as one. Spark hashes the
  * key only to partition the window; equality decides membership.
  */
object ContentGroups {

  /** (id, sid, cnt, content): every row of `df` (columns `id` and
    * `content`) with its group's smallest id and size. */
  def members(df: DataFrame, content: String): DataFrame = {
    val w = Window.partitionBy(col(content))
    df.select(col("id"), min(col("id")).over(w).as("sid"),
      count(lit(1)).over(w).as("cnt"), col(content))
  }

  /** One representative per group: the member whose id is the group's
    * sid, with all of its [[members]] columns. */
  def reps(mem: DataFrame): DataFrame = mem.filter(col("id") === col("sid"))

  /** Member pairs (i, j, scores…) from representative pairs `repPairs`
    * (sa, sb, scores…) over [[members]] table `mem`.
    *
    * Cross-group pairs copy their representatives' scores: undirected
    * callers get i < j through least/greatest (groups are disjoint);
    * `directed` callers get every (i, j) with i in sa's group and j in
    * sb's, so i ≠ j by construction. Within-group pairs get
    * `score(content, content)`, named like the score columns of
    * `repPairs` and evaluated once per member before the pairing, and
    * are kept where `keep` holds; i < j, or i ≠ j when `directed`. */
  def pairs(mem: DataFrame, content: String, repPairs: DataFrame,
            directed: Boolean)
           (score: (Column, Column) => Seq[Column], keep: Column): DataFrame = {
    val scores = repPairs.columns.filterNot(c => c == "sa" || c == "sb")
      .toSeq.map(col)
    val ia = col("ia"); val ib = col("ib")
    val (i, j) = if (directed) (ia, ib) else (least(ia, ib), greatest(ia, ib))
    val cross = repPairs
      .join(mem.select(col("sid").as("sa"), col("id").as("ia")), "sa")
      .join(mem.select(col("sid").as("sb"), col("id").as("ib")), "sb")
      .select(i.as("i") +: j.as("j") +: scores: _*)
    val dup = mem.filter(col("cnt") > 1)
    val within = dup
      .select(col("sid") +: col("id").as("i") +: score(col(content), col(content)): _*)
      .filter(keep)
      .join(dup.select(col("sid"), col("id").as("j")), "sid")
      .filter(if (directed) col("i") =!= col("j") else col("i") < col("j"))
      .select(col("i") +: col("j") +: scores: _*)
    cross.unionByName(within)
  }
}

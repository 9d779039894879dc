package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BoundedCollectList, CosinePrefixes, CosineSimilarity, GramMatrixAgg, HashedShingles, JlSignProject, MinHashShingles, MisraGries, NearestCell, NfcNormalize, OrderedPairs, ShingleSeq, SimHash48}

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions so they resolve by name in SQL text and
  * `call_function`, plus the `asof_native`/`snapshot_at`/`changes_since`
  * table functions, the as-of planner strategy and the two optimizer
  * rules. The DataFrame operators build the native expressions directly
  * and need none of it. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: implied-length prune ahead of levenshtein filters
    // (see graft.plans.LevenshteinLengthPrune — result-preserving)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinLengthPrune)
    // physical strategy: the native as-of merge join
    // (graft.plans.AsOfJoinNativeExec — see graft.ops.AsOfJoin.asOfNative)
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    // optimizer rule: column pruning through AsOfJoinPlan (Catalyst's
    // ColumnPruning only understands built-in nodes)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinPruning)
    // SQL-text surface for the native as-of: asof_native(...) table
    // function + the analyzer rule that binds its column names once the
    // relations resolve (graft.plans.AsOfJoinSql)
    ext.injectResolutionRule(_ => new graft.plans.ResolveAsOfJoin)
    ext.injectTableFunction((
      new FunctionIdentifier("asof_native"),
      new ExpressionInfo(classOf[graft.plans.UnresolvedAsOfJoin].getName,
        null, "asof_native",
        "asof_native(left_table, right_table, left_key, right_key, left_ts, right_ts) - backward as-of join on the native merge exec; right columns null-padded when no at-or-before row exists", ""),
      (children: Seq[Expression]) => graft.plans.UnresolvedAsOfJoin.fromArgs(children)))
    // SQL-text time travel over the engine's versioned tables:
    // snapshot_at('<path>', n) — see graft.plans.SnapshotAtSql
    ext.injectTableFunction((
      new FunctionIdentifier("snapshot_at"),
      new ExpressionInfo(graft.plans.SnapshotAtSql.getClass.getName,
        null, "snapshot_at",
        "snapshot_at(table_path, steps_back) - time-travel read of a versioned graft table: the committed snapshot steps_back commits before the live one (0 = live)", ""),
      (children: Seq[Expression]) => graft.plans.SnapshotAtSql.fromArgs(children)))
    // SQL-text changefeed over the same versioned tables:
    // changes_since('<path>', n) — see graft.plans.ChangesSinceSql
    ext.injectTableFunction((
      new FunctionIdentifier("changes_since"),
      new ExpressionInfo(graft.plans.ChangesSinceSql.getClass.getName,
        null, "changes_since",
        "changes_since(table_path, steps_back) - changefeed of a versioned graft table: rows added/removed by the last steps_back commits, tagged _change_type and _commit_step", ""),
      (children: Seq[Expression]) => graft.plans.ChangesSinceSql.fromArgs(children)))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, null, "cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two float vectors", ""),
      (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("cosine_prefixes"),
      new ExpressionInfo(classOf[CosinePrefixes].getName, null, "cosine_prefixes",
        "cosine_prefixes(a, b, dims) - cosines of every prefix-truncated pair (slice(a,1,d), slice(b,1,d)) in one fold; null inputs yield null elements, not a null array", ""),
      (children: Seq[Expression]) => CosinePrefixes(children.head, children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("ordered_pairs"),
      new ExpressionInfo(classOf[OrderedPairs].getName, null, "ordered_pairs",
        "ordered_pairs(arr) - all struct<a,b> pairs with a < b by value, in the nested-HOF emission order; null-sided pairs dropped", ""),
      (children: Seq[Expression]) => OrderedPairs(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("hashed_shingles"),
      new ExpressionInfo(classOf[HashedShingles].getName, null, "hashed_shingles",
        "hashed_shingles(text, n) - 64-bit hashes of word n-gram shingles", ""),
      (children: Seq[Expression]) => HashedShingles(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_plan"),
      new ExpressionInfo(classOf[MinHashShingles].getName, null, "minhash_plan",
        "minhash_plan(text, n, k) - portable md5-48 shingle set + k-component MinHash signature", ""),
      (children: Seq[Expression]) => MinHashShingles(children.head, children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("shingle_seq"),
      new ExpressionInfo(classOf[ShingleSeq].getName, null, "shingle_seq",
        "shingle_seq(text, n) - positional md5-48 shingle-hash sequence, duplicates kept", ""),
      (children: Seq[Expression]) => ShingleSeq(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("simhash48"),
      new ExpressionInfo(classOf[SimHash48].getName, null, "simhash48",
        "simhash48(text, bits) - portable md5-48 SimHash sketch of the token multiset", ""),
      (children: Seq[Expression]) => SimHash48(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("bounded_collect_list"),
      new ExpressionInfo(classOf[BoundedCollectList].getName, null, "bounded_collect_list",
        "bounded_collect_list(id, cap) - collect longs, saturating at cap+1 elements (bounded-memory hot-bucket census)", ""),
      (children: Seq[Expression]) => BoundedCollectList(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[MisraGries].getName, null, "misra_gries",
        "misra_gries(item, k) - k-counter Misra-Gries heavy-hitters summary (map item -> under-estimated count)", ""),
      (children: Seq[Expression]) => MisraGries(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, null, "nfc_normalize",
        "nfc_normalize(text) - Unicode NFC canonicalization (TR-15), upstream of hash-keyed dedup", ""),
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("gram_matrix"),
      new ExpressionInfo(classOf[GramMatrixAgg].getName, null, "gram_matrix",
        "gram_matrix(vec, dim) - exact quantized upper-triangle second moments as one buffer-per-partition aggregate", ""),
      (children: Seq[Expression]) => GramMatrixAgg(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("jl_sign_project"),
      new ExpressionInfo(classOf[JlSignProject].getName, null, "jl_sign_project",
        "jl_sign_project(vec, k, dim) - JL ±1 sign projection to k exact milli-unit long dims (md5-parity sign matrix)", ""),
      (children: Seq[Expression]) => JlSignProject(children.head, children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("nearest_cell"),
      new ExpressionInfo(classOf[NearestCell].getName, null, "nearest_cell",
        "nearest_cell(vec, centroids) - index of the euclidean-nearest centroid", ""),
      (children: Seq[Expression]) => NearestCell(children.head, children(1))))
  }
}

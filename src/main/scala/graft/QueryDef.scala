package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle
  * query over the same parquet tables. Queries without an oracle get
  * the driver's weaker rows-only check.
  *
  * Conventions that make the oracle hash-compare exact (see
  * tools/driver_sim.py, the pandas-faithful gate):
  *  - every computed column is aliased identically in both engines;
  *  - double aggregates (INCLUDING window sums) are routed through
  *    decimal internally (order-independent) and only the OUTPUT
  *    column is cast to DOUBLE in both engines — decimal-typed
  *    outputs reach pandas as Decimal objects on one side and float64
  *    on the other and never hash-match;
  *  - derived doubles (variance, shares, ratios) are built from exact
  *    decimal/long inputs with the SAME IEEE expression tree on both
  *    sides;
  *  - no array/struct/map-typed output columns, even in rows-only
  *    queries (the harness row-sorts in pandas, where nested cells
  *    are unhashable); timestamps in outputs go through VARCHAR or
  *    epoch integers;
  *  - output includes a deterministic ORDER BY with a unique tiebreak;
  *  - every new oracle is validated at BOTH sf0.001 and sf0.01
  *    (order-dependence can hash-match by luck at a single SF).
  */
final class QueryDef(
    val name: String,
    val fn: (SparkSession, String) => DataFrame,
    oracleThunk: Option[() => String]) {
  /** Oracle SQL, built ON ACCESS (ADVICE r16): the SQL string is a
    * thunk, so an oracle whose construction can throw — the
    * fixture-backed queries resolve committed fixture files into
    * `read_csv` paths — fails when ITS oracle is requested, not at
    * registry construction (where it would take every unrelated
    * query down with an ExceptionInInitializerError). */
  def oracle: Option[String] = oracleThunk.map(_())
}

object QueryDef {
  /** `oracle` is BY-NAME: evaluated per [[QueryDef.oracle]] access. */
  def apply(name: String, oracle: => String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(name, fn, Some(() => oracle))

  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(name, fn, None)

  /** `SPARK_GRAFT_LIVE_FIT=1` — set by the scale harness — forces the
    * fixture-dispatching ANN queries (q124/q130/q158/q159) onto
    * live-fit centroids/codebooks even on corpora whose checksum matches a
    * committed fixture. Without it a ScaleBench ratio would compare a
    * fixture-served BASE against a live-fit BLOWN corpus (the
    * checksum can only match the real testdata) and fabricate a
    * pseudo-super-linear flag out of the fit cost; the scale maps'
    * claim is live-fit-vs-live-fit, the min-of-3 bench's is the
    * fixture-served production shape. */
  def liveFitForced: Boolean =
    sys.env.get("SPARK_GRAFT_LIVE_FIT").contains("1")

  /** Resolve a committed fixture (fixtures/<name>) for embedding in
    * DuckDB oracle SQL or for the engine to read. The ADVICE-r15 trap:
    * resolving against the bare process CWD makes the oracle silently
    * depend on launching the driver from the repo root, surfacing only
    * as an opaque read_csv failure at oracle time. Resolution order:
    * SPARK_GRAFT_REPO_ROOT env, graft.repo.root system property, CWD
    * — and a MISSING fixture fails loud here with the regeneration
    * hint, scoped to the requesting query (call this only where the
    * fixture is used — inside a by-name oracle argument or when a
    * table is read, never in an object initialiser — the ADVICE-r16
    * rule).
    *
    * @param regenerate the command that rebuilds this fixture, named
    *   in the error when it is missing. */
  def fixturePath(name: String,
      regenerate: String = "sbt \"runMain graft.FixtureDump\""): String = {
    val roots = Seq(sys.env.get("SPARK_GRAFT_REPO_ROOT"),
      sys.props.get("graft.repo.root"), Some(".")).flatten
    val candidates = roots.map(r =>
      new java.io.File(new java.io.File(r, "fixtures"), name))
    candidates.find(_.isFile).map(_.getAbsolutePath).getOrElse(
      throw new IllegalStateException(
        s"fixture fixtures/$name not found (tried " +
          candidates.map(_.getAbsolutePath).mkString(", ") +
          ") — launch from the repo root or set SPARK_GRAFT_REPO_ROOT; " +
          s"regenerate with `$regenerate`"))
  }
}

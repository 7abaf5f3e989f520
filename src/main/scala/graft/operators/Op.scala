package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine operation: a DataFrame program over a testdata
  * scale-factor dir, plus (when SQL-expressible) a DuckDB oracle twin.
  * Column names/types of `build` and `oracle` must agree exactly — the
  * driver sorts columns by name and hash-compares values.
  *
  * The oracle is BY-NAME and rendered on ACCESS, never at
  * enclosing-object init. This is the structural fix for the round-11
  * `q_simhash_recall` bug class: an eager `val op: Op = Op(name,
  * s"… $SiblingConstant …")(…)` whose interpolated constant is declared
  * LATER in the same object ran the interpolation during object init
  * and froze the constant's pre-init zero into the SQL — the scope gate
  * became `n_words <= 0` and the oracle silently tested nothing. With a
  * by-name oracle the interpolation is a thunk over the object's field
  * GETTERS, evaluated on first `.oracle` access — which only ever
  * happens after every operator object has finished initializing
  * (Verify / the driver / specs all reach ops through SparkEntry), so
  * declaration order inside an object can no longer corrupt an oracle.
  * RegistryInitSpec pins the class with a deliberate forward-reference
  * fixture and byte-compares repeated renders of all registered
  * oracles.
  */
final class Op private (
    val name: String,
    val build: (SparkSession, String) => DataFrame,
    oracleThunk: Option[() => String]) {

  /** The DuckDB oracle SQL, rendered at access time (post-init). */
  def oracle: Option[String] = oracleThunk.map(_())

  override def toString: String = s"Op($name)"
}

object Op {
  def apply(name: String, oracle: => String)(
      build: (SparkSession, String) => DataFrame): Op =
    new Op(name, installing(build), Some(() => oracle))

  def noOracle(name: String)(build: (SparkSession, String) => DataFrame): Op =
    new Op(name, installing(build), None)

  /** `build` on a session that carries [[graft.GraftExtensions]]: every
    * op plans its native kernels whatever session it is handed. */
  private def installing(build: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (spark, dir) =>
    graft.GraftExtensions.install(spark)
    build(spark, dir)
  }
}

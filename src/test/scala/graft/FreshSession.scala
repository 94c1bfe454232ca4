package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** A new SparkSession over the test JVM's SparkContext that no graft
  * code has touched: no `GraftSession.local`, so none of graft's SQL
  * functions are registered unless `extensions` injects them. The
  * shared test session is restored as default and active afterwards. */
object FreshSession {
  def apply[T](extensions: Option[SparkSessionExtensions => Unit] = None)
              (body: SparkSession => T): T = {
    val shared = SparkTestSession.spark // ensure the context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val b = SparkSession.builder().master("local[2]")
      val fresh = extensions.fold(b)(b.withExtensions).getOrCreate()
      assert(fresh ne shared, "builder returned the shared session")
      body(fresh)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}

package graft.operators

import org.apache.spark.sql.Dataset

/** The ONLY sanctioned driver pull in query paths: an O(request) artifact
  * (top-k candidates, their pair sims, a codebook, a pgoutput decode's
  * control frames) collected under an explicit serving-request ceiling.
  * The limit is applied IN THE PLAN (`limit(ceiling + 1)`), so a bug that
  * makes the artifact corpus-sized transfers at most ceiling+1 rows to the
  * driver and then fails loudly —
  * it can never OOM the driver first (r15 verdict: the MMR pair pull was
  * O(k²) with the require on the wrong artifact; a ~4096-candidate request
  * would have pulled ~16M rows before any check ran). */
object BoundedPull {

  def rows[T](ds: Dataset[T], ceiling: Int, what: String): Array[T] = {
    val r = ds.limit(ceiling + 1).collect()
    require(r.length <= ceiling,
      s"$what: pull exceeds the serving-request ceiling of $ceiling rows — " +
        "this artifact is supposed to be request-bounded, not corpus-sized")
    r
  }
}

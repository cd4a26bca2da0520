package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew MITIGATION — the act-on-it companions to
  * [[Stats.skewReport]]'s diagnosis. A shuffle equi-join hashes every
  * row of a key to ONE reducer; when q62 says one key holds 8% of a
  * 100 TB fact table, that reducer gets 8 TB while its 999 siblings
  * idle. Both operators here rewrite the join so hot keys spread,
  * while PROVABLY returning the plain join's rows (their registry
  * oracles are the unsalted SQL join — the mitigation must be
  * invisible in the result, visible only in the task histogram).
  *
  * AQE's skew-join handles the sort-merge case at runtime; these are
  * the explicit forms for when the plan must be deterministic (AQE
  * off, bucketed inputs AQE won't split, or skew beyond what
  * partition-splitting fixes because a single KEY — not a single
  * partition — is the unit AQE cannot subdivide for a hash join).
  */
object Skew {

  /** Salted equi-join: replicate the SMALL side `salt`× and scatter
    * each big-side row to one of the `salt` replicas, so a hot key's
    * rows land on `salt` reducers instead of one.
    *
    * The scatter is `pmod(xxhash64(scatterCol), salt)` — deterministic
    * per row (re-runs shuffle identically; a speculative retry of a
    * map task re-emits the same buckets), uniform when `scatterCol`
    * is high-cardinality (a row id, NOT the join key — salting on the
    * key would defeat itself). The small side explodes a literal
    * 0..salt-1 sequence: `salt`× replication of the SMALL side only,
    * the big side is never duplicated. Join keys become
    * (key, salt_id) — still a plain hash equi-join, map-side
    * combinable downstream, zero driver participation.
    *
    * Cost model: small side ships salt× (it is small — that is the
    * contract; for a dim too big to replicate use [[hotColdJoin]]),
    * big side ships 1×, and the hottest reducer shrinks by ~salt×.
    * Result set: exactly the rows of `big ⋈ small` on `keys` — each
    * big row meets exactly the one small replica carrying its salt.
    */
  def saltedJoin(
      big: DataFrame, small: DataFrame, keys: Seq[String],
      scatterCol: String, salt: Int = 16): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    require(keys.nonEmpty, "need at least one join key")
    val saltedBig = big.withColumn(
      "graft_salt", pmod(xxhash64(col(scatterCol)), lit(salt)))
    val replicated = small.withColumn(
      "graft_salt",
      explode(sequence(lit(0L), lit(salt - 1L))))
    saltedBig.join(replicated, keys :+ "graft_salt")
      .drop("graft_salt")
  }

  /** Differentiated hot/cold join for skew past what salting pays
    * for: rows whose key is in the (tiny, q62-sized) `hotKeys` set
    * take a BROADCAST join — no shuffle at all, a hot key's rows stay
    * where they already are — and the cold remainder takes the normal
    * shuffle join, now skew-free because the head of the Zipf curve
    * was removed. Union of the two is exactly the plain join.
    *
    * `hotKeys` is one column named `keys.head`… pattern: pass
    * [[Stats.skewReport]]'s `key` column (topN rows — metadata). Both
    * the split of `big` and the hot branch's dim probe are broadcast
    * semi/anti joins against it, so `big` is scanned twice but never
    * shuffled twice — the hot branch has NO exchange and the cold
    * branch's exchange no longer carries the hot rows. Use when the
    * small side is too large to replicate salt× but its hot-key
    * subset (≤ topN rows) trivially broadcasts.
    */
  def hotColdJoin(
      big: DataFrame, small: DataFrame, keys: Seq[String],
      hotKeys: DataFrame): DataFrame = {
    require(keys.nonEmpty, "need at least one join key")
    val hk = broadcast(hotKeys.select(keys.map(col): _*).distinct())
    val hot = big.join(hk, keys, "left_semi")
      .join(broadcast(small.join(hk, keys, "left_semi")), keys)
    val cold = big.join(hk, keys, "left_anti").join(small, keys)
    hot.unionByName(cold)
  }
}

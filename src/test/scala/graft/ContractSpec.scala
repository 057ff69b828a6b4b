package graft

import graft.functions.ShingleExpressions
import org.apache.spark.sql.functions._

/** Wiring safety net for the driver contract: every oracle key has a
  * query, every query analyzes and returns rows on sf0.001, and the SQL
  * extension functions resolve.
  */
class ContractSpec extends SparkSpec {

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
    // the fitted-parameter (dynamic) oracles are part of the same
    // contract: key must resolve to a query, and must not ALSO be
    // registered statically (Verify's merge would shadow one silently)
    val dyn = SparkEntry.dynamicOracleSql(spark, sf()).keySet
    assert((dyn -- SparkEntry.queries.keySet).isEmpty,
      s"dynamic oracle without query: ${dyn -- SparkEntry.queries.keySet}")
    assert((dyn & SparkEntry.oracleSql.keySet).isEmpty,
      s"slug registered both statically and dynamically: ${dyn & SparkEntry.oracleSql.keySet}")
    // fail-closed coverage pin (r16): the static slug list Verify uses
    // to backfill error-raising oracles must be exactly what the
    // resolver produces — a slug added to one side only is either a
    // silent coverage hole or a spurious gate failure
    assert(dyn == SparkEntry.dynamicOracleSlugs.toSet,
      s"dynamicOracleSlugs out of sync: list-only=${SparkEntry.dynamicOracleSlugs.toSet -- dyn} resolver-only=${dyn -- SparkEntry.dynamicOracleSlugs.toSet}")
  }

  test("every query analyzes and yields rows at sf0.001") {
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sf())
      assert(df.schema.nonEmpty, s"$name: empty schema")
      // near-dup ops may legitimately be empty on the tiny corpus.
      // Round 7 removed dedup_near_embedding / dedup_embedding_clusters
      // (planted re-ingestion corpus guarantees pairs at every sf) and
      // set_except (high-balance filter leaves nonempty difference) —
      // those three now assert NONEMPTY here, de-vacuizing their oracle
      // rows. join_anti stays: sf0.001 has no dormant customer (every
      // one ordered after the cutoff); its nonempty evidence is the
      // sf0.01 driver gate + the planted-frame OperatorSpec test.
      val mayBeEmpty = Set("dedup_near_minhash",
        "dedup_ngram_jaccard", "dedup_ngram_jaccard_capped",
        "dedup_jaccard_clusters",
        "dedup_simhash_pairs", "join_anti",
        "join_theta_range", "join_range_bucket"
        /* band joins are empty with only 10 suppliers @sf0.001 */)
      if (!mayBeEmpty(name) && df.isEmpty) Some(name) else None
    }
    assert(empties.isEmpty, s"queries with no rows: $empties")
  }

  test("no query emits a top-level DECIMAL output column") {
    // round-5 lesson (pipeline_shard_output): a DECIMAL(38,0) output
    // column is hugeint-backed in DuckDB but fixed-len-byte-array in
    // Spark parquet, and a downstream hasher can canonicalize the two
    // differently even when every value is equal. Exact DECIMAL
    // arithmetic INSIDE a query is fine (it's the order-free float-sum
    // device several queries rely on); terminal columns must land on
    // BIGINT / DOUBLE / STRING, which hash representation-stably.
    import org.apache.spark.sql.types.DecimalType
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, sf()).schema.fields.collect {
        case f if f.dataType.isInstanceOf[DecimalType] => s"$name.${f.name}"
      }
    }
    assert(offenders.isEmpty, s"DECIMAL output columns: $offenders")
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("custom expressions are SQL-registrable and match the Column API") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sf()).limit(20).createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql(
      "SELECT doc_id, minhash_signature(shingle_hashes(lower(text), 3), 8) AS sig " +
        "FROM docs_ext ORDER BY doc_id").collect()
    val viaCol = Tables.documents(spark, sf()).limit(20)
      .select(col("doc_id"),
        ShingleExpressions.minHashSignature(
          ShingleExpressions.shingleHashes(lower(col("text")), 3), 8).as("sig"))
      .orderBy("doc_id").collect()
    assert(viaSql.map(_.toString).toSeq === viaCol.map(_.toString).toSeq)
    // every function of the one registration table resolves in spark.sql
    val calls = Map(
      "shingle_hashes" -> "shingle_hashes('a b c d', 3)",
      "minhash_signature" -> "minhash_signature(shingle_hashes('a b c d', 3), 8)",
      "dot_product" -> "dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D))",
      "simhash64" -> "simhash64('a b c')",
      "rabin_fingerprint" -> "rabin_fingerprint('a b c', true)")
    assert(GraftExtensions.functions.map(_._1).toSet === calls.keySet)
    calls.foreach { case (name, call) =>
      assert(!spark.sql(s"SELECT $call").head().isNullAt(0), s"$name did not resolve")
    }
    assert(spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) === 11.0)
  }

  test("no duplicate slug keys in the SparkEntry source (Map literals keep the LAST)") {
    // r10 finding: round 9 registered its Gopher repetition diagnostic
    // under "text_repetition", a slug the r3 trigram dup-ratio op
    // already owned — the Map literal silently kept the later entry and
    // the r9 operator never actually ran under the gate. The compiled
    // Map cannot reveal this, so this guard scans the SOURCE: every
    // quoted slug key may appear at most once per map literal.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val keyRe = """"([a-z0-9_]+)"\s*->""".r
    def dupes(body: String): Seq[String] =
      keyRe.findAllMatchIn(body).map(_.group(1)).toSeq
        .groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }.toSeq
    val qStart = src.indexOf("def queries")
    val oStart = src.indexOf("def oracleSql")
    assert(qStart > 0 && oStart > qStart, "SparkEntry layout changed")
    val qDupes = dupes(src.substring(qStart, oStart))
    val oDupes = dupes(src.substring(oStart))
    assert(qDupes.isEmpty, s"duplicate queries keys (later shadows earlier): $qDupes")
    assert(oDupes.isEmpty, s"duplicate oracleSql keys (later shadows earlier): $oDupes")
  }
}

package perfbench

import java.nio.file.{Files, Paths}

/** Sets the expected digests, once, from outputs that DuckDB agreed with.
  *
  * {{{
  *   perfbench.RecordDigests <data dir> <work dir> <verify out dir> <digests.json>
  * }}}
  *
  * `<verify out dir>` holds `graft.Verify`'s parquet dump of every query
  * the workloads run. For each query this checks that the digest of the
  * live result equals the digest of the dumped one, then records it. For
  * each ingest step (seed 1) it records the digest and dumps the result
  * as parquet next to the query dumps, with DuckDB SQL that computes the
  * same relation from the parquet tables, merged into the dump's
  * `oracle_sql.json`, so one `tools/compare_oracle.py` pass checks
  * queries and ingest steps alike. `record_digests.py` drives the whole
  * sequence.
  */
object RecordDigests {
  /** DuckDB statements equal to the ingest steps' checked results. */
  val ingestOracle: Map[String, String] = Map(
    "read_lineitem" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) / count(*) AS mean_l_quantity,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) / count(*)
        |    AS mean_l_extendedprice
        |FROM lineitem""".stripMargin,
    "join_write" ->
      """SELECT o_orderkey, o_custkey, o_orderpriority, l_partkey, l_extendedprice
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin,
    "stream_upsert" ->
      """SELECT user_id, event_type, value, ts, event_id
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin)

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Seq("--queries"))) {
      // the full names of every workload query, for graft.Verify
      Workloads.queryWorkloads.values.flatten.toSeq.distinct.sorted
        .foreach(p => println(Workloads.queries(Seq(p)).collect { case q: QueryOp => q.q.name }.head))
      return
    }
    val Array(dataDir, work, verifyDir, outFile) = args
    val nproc = Runtime.getRuntime.availableProcessors
    val workDir = Paths.get(work).toAbsolutePath
    val spark = Session.build(nproc, workDir)
    val ctx = Ctx(spark, dataDir, workDir, seed = 1L, nproc)

    val queries = Workloads.queryWorkloads.map { case (w, prefixes) =>
      w -> Workloads.queries(prefixes).map { case op: QueryOp =>
        val live = op.digest(ctx)
        val dumped = Digest.of(spark.read.parquet(s"$verifyDir/${op.q.name}"))
        require(live == dumped,
          s"${op.q.name}: live digest ${live.render} != Verify dump ${dumped.render}")
        op.name -> live.render
      }.toMap
    }

    val in = new IngestInputs(ctx)
    in.prepare()
    val ingest = IngestOps.all(in).map { op =>
      val res = op.result(ctx)
      val d = Digest.of(res)
      if (ingestOracle.contains(op.name))
        res.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/ingest_${op.name}")
      op.name -> d.render
    }.toMap

    val oraclePath = Paths.get(verifyDir, "oracle_sql.json")
    val prior = Files.readString(oraclePath).trim.stripSuffix("}")
    val added = ingestOracle.map { case (k, sql) => Json(s"ingest_$k") + ":" + Json(sql) }
    Files.writeString(oraclePath, (prior +: added.toSeq).mkString(",") + "}")

    val all = queries.map { case (w, m) =>
      w -> (if (Workloads.withIngest(w)) m ++ ingest else m)
    }
    Files.writeString(Paths.get(outFile), Json(all.map { case (w, m) =>
      w -> scala.collection.immutable.TreeMap(m.toSeq: _*)
    }) + "\n")
    spark.stop()
  }
}

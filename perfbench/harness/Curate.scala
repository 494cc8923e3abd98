package perfbench

import graft.{GraftQuery, Registry}

import java.nio.file.{Files, Paths}

/** `corpus_curate`: the LLM-data nightly job. One pass calls the
  * registry entries below in pipeline order, each once; a pass is one
  * op group. The set-up's warm-up pass writes every entry's output for
  * the DuckDB oracle check (run after the JVM exits, over the same
  * staged state) and hashes it; every timed pass must reproduce each
  * hash. Passes run in order, never as best-of-N repeats. */
object CurateWorkload {
  /** (registry entry, operator family), in pipeline order. Seven of the
    * nightly job's fifteen entries are left out to keep a run inside the
    * benchmark's time budget (see perfbench/README.md): text_langid,
    * dedup_minhash_lsh, dedup_clusters, decontaminate_fuzzy,
    * tfidf_top_terms, sample_mixture and dedup_semantic. */
  val Pipeline: Seq[(String, String)] = Seq(
    "text_quality" -> "textops", "text_pii_redact" -> "textops", "dedup_exact" -> "dedup",
    "curate_pipeline" -> "curation", "split_leakage_free" -> "curation",
    "pack_sequences" -> "pack", "shard_shuffle" -> "pack", "ann_ivf_probe" -> "similarity")
  val Families: Seq[String] = Seq("textops", "dedup", "curation", "similarity", "pack")

  def run(ctx: Ctx): Unit = {
    import ctx._
    val registry = Registry.all.map(q => q.name -> q).toMap
    val entries: Seq[(GraftQuery, String)] = Pipeline.map { case (n, f) =>
      (registry.getOrElse(n, sys.error(s"registry entry $n missing")), f)
    }

    val outDir = s"$work/oracle_out"
    val warm = entries.map { case (q, _) =>
      val out = s"$outDir/${q.name}"
      tracer.span(s"warmup.${q.name}")(q.run(spark, inputs).write.parquet(out))
      q.name -> tracer.span(s"warmup.${q.name}.hash")(RowHash.of(spark.read.parquet(out)))
    }.toMap
    val oracle = entries.map { case (q, _) => q.name -> q.oracle.getOrElse(sys.error(s"${q.name} has no oracle")) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.obj(oracle).json)
    extra("oracle_dir") = outDir
    extra("warm_hashes") = Json.obj(warm.toSeq.sortBy(_._1).map { case (k, (h, n)) =>
      k -> Json.obj(Seq("hash" -> h, "rows" -> n)) })

    def runEntry(q: GraftQuery, family: String, op: Int): (Long, Long) =
      tracer.span(s"operators.$family", op) {
        val df = tracer.span(s"operators.$family.plan", op) {
          val df = q.run(spark, inputs)
          df.queryExecution.executedPlan
          df
        }
        tracer.span(s"operators.$family.exec", op)(RowHash.of(df))
      }

    val passes = plan("passes")
    begin()
    for (p <- 0 until passes; (q, family) <- entries) {
      ops.timed(q.name, p)(runEntry(q, family, p))(h =>
        if (h == warm(q.name)) None else Some(s"hash $h != warm-up ${warm(q.name)}"))
      // Traced runs only: the same entry again, straight after its
      // in-order run, to price what best-of-N repeats would hide.
      if (tracer.enabled && p == 0) {
        val t0 = System.nanoTime()
        tracer.span("operators.repeat", p)(runEntry(q, family, -1))
        tracer.note("operators.repeat_ms", p, (System.nanoTime() - t0) / 1e6)
        tracer.note("operators.in_order_ms", p, ops.recs.last.ms)
      }
    }
    end()
    val nDocs = plan("n_docs").toDouble
    e2e("throughput_per_s") = nDocs * passes / (ops.totalMs / 1000.0)
    e2e("latency_p50_ms") = Stats.median(ops.groupMs)
    tailOf(ops.groupMs)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins queries_index.json (tools/gen_index.py) to the live registry:
  * adding or renaming a SparkEntry.queries entry without regenerating the
  * index is a red build, so the machine-readable coverage claim can never
  * silently drift from the code (VERDICT r12 task 2). `spec: null` rows
  * are oracle-only coverage — allowed; missing/extra KEYS are not.
  */
class QueriesIndexSpec extends AnyFunSuite {

  test("queries_index.json key set equals SparkEntry.queries") {
    val path = java.nio.file.Paths.get("queries_index.json")
    assert(java.nio.file.Files.exists(path),
      "queries_index.json missing: run python3 tools/gen_index.py")
    val text = java.nio.file.Files.readString(path)
    val indexed = "\"(q_\\w+)\"\\s*:\\s*\\{".r
      .findAllMatchIn(text).map(_.group(1)).toSet
    val live = SparkEntry.queries.keySet
    assert((live -- indexed).isEmpty,
      s"queries missing from queries_index.json (rerun tools/gen_index.py): " +
        (live -- indexed).toSeq.sorted.mkString(", "))
    assert((indexed -- live).isEmpty,
      s"stale queries_index.json entries (rerun tools/gen_index.py): " +
        (indexed -- live).toSeq.sorted.mkString(", "))
  }

  test("probe coverage is total: ratio or explicit exemption per query") {
    // r13 verdict task 4: queries_index.json carried exactly one silent
    // probe_ratio_8x null. A query must have a measured ratio or a
    // documented PROBE_EXEMPT marker (probe_exempt field) — a null
    // reads as coverage that isn't there.
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("queries_index.json"))
    val gaps = "\"(q_\\w+)\"\\s*:\\s*\\{([^}]*)\\}".r
      .findAllMatchIn(text)
      .filter { m =>
        val body = m.group(2)
        body.contains("\"probe_ratio_8x\": null") &&
          !body.contains("\"probe_exempt\":")
      }
      .map(_.group(1)).toSeq.sorted
    assert(gaps.isEmpty,
      s"silent probe gaps (no ratio, no exemption): " +
        gaps.mkString(", "))
  }

  test("64x probe tier is machine-readable: probe_ratio_64x on the " +
       "covered top-50 set, never null (r14 verdict task 3)") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("queries_index.json"))
    // the generator emits the field ONLY where measured — absence marks
    // a query outside the 64x covered set; an explicit null would be the
    // silent-coverage smell the 8x field's discipline exists to prevent
    assert(!text.contains("\"probe_ratio_64x\": null"),
      "probe_ratio_64x must be omitted, not null, outside the covered set")
    val covered = "\"probe_ratio_64x\":\\s*[0-9]".r
      .findAllMatchIn(text).size
    assert(covered >= 50,
      s"64x covered set shrank below the top-50 contract: $covered rows")
  }

  test("shifted-builder adjudications travel with the index: " +
       "probe_ratio_8x_shifted on the graph family + q_order_gaps " +
       "(r14 verdict task 7)") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("queries_index.json"))
    // the queries whose default-builder ratios are densification
    // artifacts (the N x builder repeats part/customer keys); the
    // key-shifted probe is the real-growth adjudication and must be a
    // committed number, not ARCHITECTURE prose
    val adjudicated = Seq("q_basket_pairs", "q_triangle_stats",
      "q_local_cc_hist", "q_copurchase_partners", "q_pagerank",
      "q_basket_components", "q_degree_dist", "q_order_gaps")
    val missing = adjudicated.filterNot { n =>
      ("\"" + n + "\"\\s*:\\s*\\{[^}]*\"probe_ratio_8x_shifted\":\\s*[0-9]").r
        .findFirstIn(text).isDefined
    }
    assert(missing.isEmpty,
      s"shifted-probe adjudication missing from the index: $missing")
  }

  test("round-17 adjudications travel with the index: the copurchase " +
       "per-phase split, the substring-inc shifted rows, and the " +
       "streamed-ingest probe (r16 verdict tasks 3-5)") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("queries_index.json"))
    // q_copurchase_partners' shifted 64x (12.5) adjudicated per-phase:
    // both split ratios must be committed numbers
    for (phase <- Seq("pairs", "window")) {
      assert(("\"q_copurchase_partners\"\\s*:\\s*\\{[^}]*" +
        s""""probe_ratio_64x_shifted_$phase":\\s*[0-9]""").r
        .findFirstIn(text).isDefined,
        s"copurchase split row missing: $phase")
    }
    // the substring serving path's shifted treatment (fixed increment,
    // grown index) at both tiers
    for (tier <- Seq("8x", "64x")) {
      assert(("\"q_dedup_substring_inc\"\\s*:\\s*\\{[^}]*" +
        s""""probe_ratio_${tier}_shifted":\\s*[0-9]""").r
        .findFirstIn(text).isDefined,
        s"substring-inc shifted row missing: $tier")
    }
    // the streamed ingest's wall-clock probe (the w_ss_ingest bench row's
    // scale adjudication) lives in the top-level stream_probes object
    assert(("\"stream_probes\"\\s*:\\s*\\{[\\s\\S]*\"w_ss_ingest\"\\s*:" +
      "\\s*\\{[^}]*\"probe_ratio_8x\":\\s*[0-9]").r
      .findFirstIn(text).isDefined,
      "stream_probes.w_ss_ingest probe row missing")
  }

  test("round-18 adjudications travel with the index: the mask apply " +
       "step's serving-path shifted rows, the streamed ingest's per-phase " +
       "split, and the compaction probe (r17 verdict tasks 1, 3, 5)") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("queries_index.json"))
    // q_span_mask_ranges_inc's committed 64x measures the in-query index
    // REBUILD; the serving path (fixed increment, grown persisted bucketed
    // index, match grain + merge scan) carries its own shifted rows
    for (tier <- Seq("8x", "64x")) {
      assert(("\"q_span_mask_ranges_inc\"\\s*:\\s*\\{[^}]*" +
        s""""probe_ratio_${tier}_shifted":\\s*[0-9]""").r
        .findFirstIn(text).isDefined,
        s"span-mask-inc shifted row missing: $tier")
    }
    // w_ss_ingest's linear term adjudicated per phase (shingle carries
    // it; check and append/commit must each have committed rows), and
    // the compaction fold is itself a probed number
    for (w <- Seq("w_ss_ingest_shingle", "w_ss_ingest_check",
                  "w_ss_ingest_commit", "w_ss_compact")) {
      assert(("\"stream_probes\"\\s*:\\s*\\{[\\s\\S]*\"" + w + "\"\\s*:" +
        "\\s*\\{[^}]*\"probe_ratio_8x\":\\s*[0-9]").r
        .findFirstIn(text).isDefined,
        s"stream_probes.$w probe row missing")
    }
  }

  test("exactness baselines carry a machine-readable scale_twin naming " +
       "their bounded production sibling (r15 verdict task 2)") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("queries_index.json"))
    // the six deliberate quadratic/full-corpus monitors; the twin is the
    // query a 100 TB deployment serves with ("by_design" marks the
    // drift monitor whose job is paying both trainer paths)
    val twins = Map(
      "q_dedup_embedding" -> "q_dedup_embedding_ivf",
      "q_ann_rank_stability" -> "q_ann_rank_stability_sampled",
      "q_pq_adc_topk" -> "q_ivfpq_topk",
      "q_ann_kmeans_assign" -> "q_ann_kmeans_assign_sampled",
      "q_knn_components" -> "q_knn_components_sampled",
      "q_kmeans_sample_drift" -> "by_design")
    val missing = twins.filterNot { case (base, twin) =>
      ("\"" + base + "\"\\s*:\\s*\\{[^}]*\"scale_twin\": \"" + twin + "\"")
        .r.findFirstIn(text).isDefined
    }
    assert(missing.isEmpty,
      s"scale_twin adjudication missing/wrong in the index: $missing")
    // every named twin is itself a live registered query
    twins.values.filter(_ != "by_design").foreach { t =>
      assert(SparkEntry.queries.contains(t), s"twin $t not in registry")
    }
  }

  test("every index row carries entry, impl and oracle anchors") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("queries_index.json"))
    // the generator emits null only for spec/probe fields; entry/impl/
    // oracle must be real file:line anchors
    val bad = "\"(q_\\w+)\"\\s*:\\s*\\{([^}]*)\\}".r
      .findAllMatchIn(text)
      .filter { m =>
        val body = m.group(2)
        !Seq("entry", "impl", "oracle").forall { f =>
          s""""$f": "src/""".r.findFirstIn(body).isDefined
        }
      }
      .map(_.group(1)).toSeq
    assert(bad.isEmpty, s"index rows without full anchors: $bad")
  }

  test("every index anchor names a live file and line") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("queries_index.json"))
    val anchor = "\"(entry|impl|oracle|spec)\": \"([^\"]+)\"".r
    val lines = scala.collection.mutable.Map.empty[String, IndexedSeq[String]]
    def lineOf(file: String, n: Int): Option[String] =
      lines.getOrElseUpdate(file, java.nio.file.Files.readString(
        java.nio.file.Paths.get(file)).split("\n", -1).toIndexedSeq)
        .lift(n - 1)
    val bad = for {
      m <- "\"(q_\\w+)\"\\s*:\\s*\\{([^}]*)\\}".r.findAllMatchIn(text).toSeq
      name = m.group(1)
      a <- anchor.findAllMatchIn(m.group(2))
      (field, loc) = (a.group(1), a.group(2))
      (file, line) = loc.span(_ != ':')
      why <-
        if (!new java.io.File(file).isFile) Some("no such file")
        else if (line.isEmpty) None
        else lineOf(file, line.drop(1).toInt) match {
          case None => Some("no such line")
          case Some(l) if field == "entry" || field == "oracle" =>
            if (l.contains("\"" + name + "\"")) None
            else Some(s"line does not name the query: ${l.trim}")
          case Some(l) if field == "impl" =>
            if ("\\b(def|val)\\b|\"q_".r.findFirstIn(l).isDefined) None
            else Some(s"line declares nothing: ${l.trim}")
          case _ => None
        }
    } yield s"$name.$field $loc: $why"
    assert(bad.isEmpty, "stale queries_index.json anchors (rerun " +
      "python3 tools/gen_index.py):\n  " + bad.mkString("\n  "))
  }

  test("every spec anchor names the query or its impl's declared name") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("queries_index.json"))
    def read(file: String) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(file))
    val bad = for {
      m <- "\"(q_\\w+)\"\\s*:\\s*\\{([^}]*)\\}".r.findAllMatchIn(text).toSeq
      name = m.group(1)
      spec <- "\"spec\": \"([^\"]+)\"".r.findFirstMatchIn(m.group(2))
        .map(_.group(1))
      impl <- "\"impl\": \"([^\"]+)\"".r.findFirstMatchIn(m.group(2))
        .map(_.group(1))
      (file, line) = impl.span(_ != ':')
      declared = "\\b(?:def|(?:lazy\\s+)?val)\\s+(\\w+)\\b".r
        .findFirstMatchIn(read(file).split("\n")(line.drop(1).toInt - 1))
        .map(_.group(1))
      specText = read(spec)
      if !specText.contains("\"" + name + "\"") &&
        !declared.exists(d => ("\\b" + d + "\\b").r.findFirstIn(specText).isDefined)
    } yield s"$name: $spec names neither \"$name\" nor ${declared.getOrElse("(no declaration)")}"
    assert(bad.isEmpty, "spec anchors that follow an incidental mention " +
      "(rerun python3 tools/gen_index.py):\n  " + bad.mkString("\n  "))
  }

  test("ScaleProbe covers every SparkEntry query exactly once") {
    // r10 verdict item 5: the scale claim was scoped to a 53-query
    // subset; the probe list must now track the full query set so a new
    // query cannot silently fall outside the "no super-linear" claim
    val probe = ScaleProbe.probeQueries
    assert(probe.distinct.size == probe.size,
      s"duplicate probe entries: ${probe.diff(probe.distinct).mkString(",")}")
    val all = SparkEntry.queries.keySet
    assert(probe.toSet == all,
      s"probe/query drift — missing: ${(all -- probe.toSet).mkString(",")}; " +
      s"unknown: ${(probe.toSet -- all).mkString(",")}")
  }
}

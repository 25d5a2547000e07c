package graft.tools

import org.apache.spark.sql.SparkSession
import graft.core.Graft
import graft.drift.{DriftRegistry, DriftStates}
import graft.kg.{AliasRow, KgPipeline, Page}
import graft.merge.GraphTables

/** Command-line front end — the `cartography` CLI analog
  * (cartography/cli.py: `--selected-modules`, `--update-tag`;
  * cartography/driftdetect/cli.py: `get-state` / `get-drift`). The
  * reference's primary UX is a CLI that wires config into the sync
  * driver; this main does the same over the Spark pipeline, so a
  * deployment is `spark-submit --class graft.tools.GraftCli ... sync
  * --input s3://pages --dict s3://aliases --work-dir s3://kg
  * --update-tag 42`.
  *
  * Subcommands:
  *  - `sync`      run (or resume) the KG pipeline: full, or an ordered
  *                stage subset via `--selected-modules`
  *  - `expire`    expire old snapshot versions of the graph + stage
  *                tables (`SnapshotTable.expireVersions`)
  *  - `get-state` run a SQL query over temp views `nodes`/`edges` of the
  *                graph and save the canonicalized drift state JSON
  *  - `drift`     both-direction diff of two saved states
  *
  * All input arrives as tables (parquet paths — the 100 TB shape); the
  * only driver-materialized structure is the size-checked Aho–Corasick
  * broadcast inside the pipeline.
  */
object GraftCli {

  private val usage: String =
    """usage:
      |  sync      --input PAGES.parquet --dict ALIASES.parquet --work-dir DIR
      |            --update-tag N [--selected-modules s1,s2,..]
      |            [--tenants T1,T2,.. [--best-effort true]]
      |            (with --tenants, --input is a template containing {tenant})
      |            [--analysis-job-dir JOBS|none --out DIR] [--cores N]
      |            (analysis runs LAST, like the reference: default is the
      |             shipped corpus under data/jobs/analysis -> WORKDIR/analysis;
      |             --analysis-job-dir none disables)
      |            (a new graph's first commit sizes its buckets from its rows;
      |             every later sync keeps the recorded layout)
      |  rebucket  --work-dir DIR --new-buckets N --update-tag T [--cores N]
      |  expire    --work-dir DIR --keep N
      |  remove-orphans --work-dir DIR --older-than-hours H
      |  permissions --input RES.parquet --id-col COL --name-col COL
      |            --mapping FILE.json --out DIR [--cores N]
      |  corpus    --input DOCS.parquet --out DIR
      |            [--ops quality,dedup,segdedup,decontam,sample]
      |            [--sample-rate R] [--eval-input EVAL.parquet]
      |            [--seg-tokens N] [--cores N]
      |  analysis  --work-dir DIR --job-dir JOBS --out DIR
      |            [--params K=V,K2=V2,..] [--update-tag N] [--cores N]
      |  analytics --work-dir DIR --out DIR [--rel-labels L1,L2,..]
      |            [--pagerank-iters N] [--damping D] [--hits-iters N] [--cores N]
      |  get-state --work-dir DIR --drift-dir DIR [--timestamp N] [--cores N]
      |            (legacy single-file mode: --name NAME --query SQL --out FILE)
      |  drift     --drift-dir DIR --query NAME [--start REF --end REF]
      |            (legacy: --start FILE --end FILE; REF = shortcut or file)
      |  add-shortcut --drift-dir DIR --query NAME --alias NAME --file REF
      |
      |every subcommand also accepts --config FILE: a flat JSON object of
      |flag-name -> value defaults; explicit --flags override file entries
      |""".stripMargin

  /** `--flag value` pairs, optionally seeded from `--config FILE` — the
    * reference's config-object pattern (cartography/config.py builds one
    * object from 63 CLI flags; cartography/cli.py lets ops keep them in
    * files). FILE is a flat JSON object keyed by the SAME names as the
    * flags (no leading dashes); explicit command-line flags override
    * file entries, so a shared base config composes with per-run
    * overrides. Unknown keys — from either source — are rejected against
    * the subcommand's [[knownFlags]] schema in [[flagsFor]].
    */
  private def parseFlags(args: Seq[String]): Map[String, String] = {
    require(args.size % 2 == 0, s"dangling flag in: ${args.mkString(" ")}\n$usage")
    val cli = args.grouped(2).map {
      case Seq(k, v) =>
        require(k.startsWith("--"), s"expected a --flag, got '$k'\n$usage")
        k.stripPrefix("--") -> v
    }.toMap
    cli.get("config") match {
      case None => cli
      case Some(path) =>
        val p = java.nio.file.Paths.get(path)
        require(java.nio.file.Files.isRegularFile(p),
          s"--config $path does not exist\n$usage")
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(p))
        require(root.isObject, s"--config $path must be a flat JSON object")
        val fromFile = Map.newBuilder[String, String]
        val it = root.fields()
        while (it.hasNext) {
          val e = it.next()
          require(e.getValue.isValueNode,
            s"--config $path: key '${e.getKey}' must be a scalar " +
              "(flags are strings; nested objects have no flag analog)")
          fromFile += e.getKey -> e.getValue.asText()
        }
        fromFile.result() ++ (cli - "config")
    }
  }

  private def req(flags: Map[String, String], key: String): String =
    flags.getOrElse(key, sys.error(s"missing required --$key\n$usage"))

  /** Explicit `--cores N` forces a local[N] session; otherwise a master
    * configured by spark-submit (`--master yarn/k8s` sets `spark.master`)
    * is respected — hard-coding `.master()` would override it and
    * silently run a cluster job single-node on the driver. With neither,
    * use every core the JVM sees.
    */
  private def session(flags: Map[String, String], app: String): SparkSession =
    flags.get("cores") match {
      case Some(c) => Graft.session(s"local[$c]", c.toInt, app)
      case None if sys.props.contains("spark.master") => Graft.submitSession(app)
      case None =>
        val cpus = Runtime.getRuntime.availableProcessors
        Graft.session(s"local[$cpus]", cpus, app)
    }

  /** Accepted flags per subcommand — the argparse-style schema: a typo'd
    * flag or config key must fail fast, not silently fall back to a
    * default (`--selected-module merge` running every stage is exactly
    * the misconfiguration class the reference's argparse rejects).
    * `--cores` and `--config` are global.
    */
  private val knownFlags: Map[String, Set[String]] = {
    val global = Set("cores", "config")
    Map(
      "sync" -> (global ++ Set("input", "dict", "work-dir", "update-tag",
        "selected-modules", "tenants", "best-effort", "analysis-job-dir",
        "out", "params")),
      "rebucket" -> (global ++ Set("work-dir", "new-buckets", "update-tag")),
      "expire" -> (global ++ Set("work-dir", "keep")),
      "remove-orphans" -> (global ++ Set("work-dir", "older-than-hours")),
      "permissions" -> (global ++ Set("input", "id-col", "name-col",
        "mapping", "out")),
      "corpus" -> (global ++ Set("input", "out", "ops", "sample-rate",
        "eval-input", "seg-tokens")),
      "analysis" -> (global ++ Set("work-dir", "job-dir", "out", "params",
        "update-tag")),
      "analytics" -> (global ++ Set("work-dir", "out", "rel-labels",
        "pagerank-iters", "damping", "hits-iters")),
      "get-state" -> (global ++ Set("work-dir", "drift-dir", "timestamp",
        "name", "query", "out")),
      "drift" -> (global ++ Set("drift-dir", "query", "start", "end")),
      "add-shortcut" -> (global ++ Set("drift-dir", "query", "alias",
        "file")))
  }

  /** Parse + validate a subcommand's flags (command line merged over any
    * `--config` file) against [[knownFlags]].
    */
  private def flagsFor(cmd: String, rest: Seq[String]): Map[String, String] = {
    val flags = parseFlags(rest)
    val unknown = (flags.keySet -- knownFlags(cmd)).toSeq.sorted
    require(unknown.isEmpty,
      s"unknown flag(s) for $cmd: ${unknown.map("--" + _).mkString(", ")}" +
        s"\n$usage")
    flags
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case "sync" +: rest => sync(flagsFor("sync", rest))
    case "rebucket" +: rest => rebucket(flagsFor("rebucket", rest))
    case "expire" +: rest => expire(flagsFor("expire", rest))
    case "remove-orphans" +: rest => removeOrphans(flagsFor("remove-orphans", rest))
    case "permissions" +: rest => permissions(flagsFor("permissions", rest))
    case "corpus" +: rest => corpus(flagsFor("corpus", rest))
    case "analysis" +: rest => analysis(flagsFor("analysis", rest))
    case "analytics" +: rest => analytics(flagsFor("analytics", rest))
    case "get-state" +: rest => getState(flagsFor("get-state", rest))
    case "drift" +: rest => drift(flagsFor("drift", rest))
    case "add-shortcut" +: rest => addShortcut(flagsFor("add-shortcut", rest))
    case other => sys.error(s"unknown command: ${other.mkString(" ")}\n$usage")
  }

  private def sync(flags: Map[String, String]): Unit = {
    val spark = session(flags, "graft-cli-sync")
    import spark.implicits._
    val workDir = req(flags, "work-dir")
    val tag = req(flags, "update-tag").toLong
    // validate the post-sync analysis flags BEFORE the (expensive) sync
    // runs: a forgotten --out or malformed --params must abort up front,
    // not after hours of pipeline work
    // "analysis always last" (cartography/sync.py:42-63): with no
    // --analysis-job-dir the SHIPPED corpus (data/jobs/analysis) runs by
    // default, like the reference's in-package job library; an explicit
    // dir overrides it; --analysis-job-dir none opts out entirely.
    val postJobDir = flags.get("analysis-job-dir") match {
      case Some("none") => None
      case Some(d) => Some(d)
      // analysis is a STAGE: a --selected-modules subset that skipped
      // the graph merge must not run the default corpus against a graph
      // that was never (re)built — exactly the reference's stage
      // semantics (analysis runs when selected/last, not always)
      case None if flags.contains("selected-modules") => None
      case None => graft.jobs.GraphJob.shippedDir
    }
    // an explicit dir requires --out (forgetting it is a config error);
    // the default shipped corpus lands under the work dir unless told
    val postOut = postJobDir.map { _ =>
      if (flags.contains("analysis-job-dir")) req(flags, "out")
      else flags.getOrElse("out", s"$workDir/analysis")
    }
    postJobDir.foreach { _ => parseParams(flags): Unit }
    val dict = spark.read.parquet(req(flags, "dict")).as[AliasRow]
    // The reference's sync runs its analysis-job corpus as the FINAL
    // stage (cartography/sync.py stage list ends with 'analysis',
    // intel/analysis.py:12-42) — mirror that when a job dir is given.
    def runPost(): Unit = postJobDir.foreach { jd =>
      analysis(Map("work-dir" -> workDir, "job-dir" -> jd,
        "out" -> postOut.get, "update-tag" -> tag.toString)
        ++ flags.get("params").map("params" -> _)
        ++ flags.get("cores").map("cores" -> _))
    }
    flags.get("tenants") match {
      case Some(ts) =>
        // Multi-tenant orchestration — the `--aws-sync-all-profiles` /
        // `_sync_multiple_accounts` loop (cartography/cli.py;
        // intel/aws/__init__.py:142-206): each tenant syncs its own input
        // table (the per-profile credentials analog: an --input template
        // with a {tenant} hole) into the SHARED graph, with per-tenant
        // stage dirs so resume is tenant-scoped. `--best-effort true` is
        // the reference's aws_best_effort_mode: a tenant's failure is
        // recorded and the loop continues; failures aggregate into one
        // exception at the end and the post-sync analysis stage runs
        // ONLY when every tenant succeeded.
        val tenants = ts.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        require(tenants.nonEmpty, s"--tenants names no tenants\n$usage")
        val bestEffort = flags.get("best-effort").exists(_.toBoolean)
        val tpl = req(flags, "input")
        require(tpl.contains("{tenant}"),
          s"multi-tenant sync needs an --input template containing {tenant}\n$usage")
        require(!flags.contains("selected-modules"),
          s"--selected-modules and --tenants cannot be combined\n$usage")
        // resolve the tenant-INVARIANT dictionary once — resolving it per
        // tenant would re-collect up to 5M rows to the driver on every
        // loop iteration
        val resolved = KgPipeline.dictionary(dict)
        graft.jobs.MultiTenant.syncAndThen(tenants, bestEffort) { t =>
          val pipe = new KgPipeline(spark, s"$workDir/tenants/$t",
            graphRoot = Some(s"$workDir/graph"))
          val pages = spark.read.parquet(tpl.replace("{tenant}", t)).as[Page]
          pipe.run(pages, resolved, tag, mergeGraph = true): Unit
        } { runPost() }: Unit
      case None =>
        val pipe = new KgPipeline(spark, workDir)
        val pages = spark.read.parquet(req(flags, "input")).as[Page]
        flags.get("selected-modules") match {
          case Some(sel) => pipe.runStages(pages, dict, tag, sel)
          case None =>
            pipe.run(pages, KgPipeline.dictionary(dict), tag, mergeGraph = true): Unit
        }
        runPost()
    }
  }

  /** Bucket evolution (Iceberg partition-spec evolution analog): a graph
    * sized for k buckets eventually outgrows them — one bucket must stay
    * executor-memory-sized, so 100x data wants more buckets. A full
    * commit under a new [[graft.snapshot.BucketSpec]] IS the re-bucket
    * (it rewrites every partition under the new arithmetic and records
    * the new count in the manifest, which every later open follows); old
    * versions stay readable for time travel (full reads are
    * layout-blind), so a legacy table without the manifest record is
    * re-bucketed the same way.
    */
  private def rebucket(flags: Map[String, String]): Unit = {
    val spark = session(flags, "graft-cli-rebucket")
    val workDir = req(flags, "work-dir")
    val newN = req(flags, "new-buckets").toInt
    require(newN > 0, s"--new-buckets must be positive\n$usage")
    val tag = req(flags, "update-tag").toLong
    val graphRoot = s"$workDir/graph"
    val edges = GraphTables.edges(spark, graphRoot, Some(newN))
    require(edges.exists,
      s"no edge table under $graphRoot — check --work-dir\n$usage")
    Seq("nodes" -> GraphTables.nodes(spark, graphRoot, Some(newN)), "edges" -> edges)
      .foreach { case (name, t) =>
        if (t.exists) {
          t.commit(t.read(), tag)
          System.err.println(s"[rebucket] $name: re-laid out at $newN buckets")
        }
      }
  }

  /** Parse `--params K=V,K2=V2` — shared by sync (up-front validation)
    * and analysis (actual use); malformed entries fail fast.
    */
  private def parseParams(flags: Map[String, String]): Map[String, String] =
    flags.get("params").map(_.split(',').toSeq).getOrElse(Nil)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k -> v
          case _ => sys.error(s"--params entries must be K=V, got '$kv'\n$usage")
        }
      }.toMap

  /** Every snapshot table living under a work dir — the shared target
    * list of the two maintenance subcommands.
    */
  private def workDirTables(spark: SparkSession, workDir: String)
      : Seq[(String, graft.snapshot.SnapshotTable)] =
    Seq("graph/nodes" -> GraphTables.nodes(spark, s"$workDir/graph"),
      "graph/edges" -> GraphTables.edges(spark, s"$workDir/graph")) ++
      KgPipeline.StageNames.map(s =>
        s"stage_$s" -> graft.snapshot.SnapshotTable(spark, s"$workDir/stage_$s", None))

  /** Expire graph + stage snapshot versions under a work dir. Stage
    * tables only ever need their latest version (resume reads the last
    * commit per tag), so they expire to `keep` as well.
    */
  private def expire(flags: Map[String, String]): Unit = {
    val spark = session(flags, "graft-cli-expire")
    val workDir = req(flags, "work-dir")
    val keep = req(flags, "keep").toInt
    workDirTables(spark, workDir).foreach { case (name, t) =>
      if (t.exists) {
        val (expired, deleted) = t.expireVersions(keep)
        System.err.println(
          s"[expire] $name: expired versions ${expired.mkString(",")}; " +
            s"deleted ${deleted.size} data dirs")
      }
    }
  }

  /** Collect ABANDONED in-flight version dirs (crashed writers) under a
    * work dir — the Iceberg `remove_orphan_files` analog
    * ([[graft.snapshot.SnapshotTable.removeOrphans]]); `expire` cannot
    * touch them because it must assume a dir above the committed ceiling
    * belongs to a live writer. The age guard is the only safety needed:
    * pick hours comfortably above the longest plausible commit.
    */
  private def removeOrphans(flags: Map[String, String]): Unit = {
    val spark = session(flags, "graft-cli-remove-orphans")
    val workDir = req(flags, "work-dir")
    val ageMs = req(flags, "older-than-hours").toDouble * 3600 * 1000
    workDirTables(spark, workDir).foreach { case (name, t) =>
      if (t.exists) {
        val deleted = t.removeOrphans(ageMs.toLong)
        if (deleted.nonEmpty)
          System.err.println(s"[remove-orphans] $name: deleted " +
            deleted.mkString(", "))
      }
    }
  }

  /** Evaluate a user-supplied wildcard policy-mapping FILE against a
    * resource table and write the allowed (policy_id, resource) pairs —
    * the reference's `permission_relationships_file` workflow
    * (cartography/intel/aws/permission_relationships.py:335-374): the
    * mapping is DATA a user edits, not code.
    */
  private def permissions(flags: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.col
    // load + validate the mapping BEFORE paying for the session/scan
    val globs = graft.operators.Analysis.loadPolicyMapping(req(flags, "mapping"))
    val spark = session(flags, "graft-cli-permissions")
    val (idCol, nameCol) = (req(flags, "id-col"), req(flags, "name-col"))
    val resources = spark.read.parquet(req(flags, "input"))
      .select(col(idCol), col(nameCol))
    graft.operators.Analysis
      .wildcardAllowed(spark, resources, idCol, nameCol, globs)
      .write.mode("overwrite").parquet(req(flags, "out"))
    System.err.println(s"[permissions] evaluated ${globs.map(_._1).distinct.size} " +
      s"policies; wrote ${req(flags, "out")}")
  }

  /** One-command training-corpus curation over a documents parquet
    * (doc_id, text): the CLI face of the LLM-pipeline operator suite.
    * `--ops` picks stages (default all):
    *  - quality: per-doc token counts + quality ratios + language id +
    *    repetition signals, joined → `out/quality`
    *  - dedup: MinHash-LSH near-dup clusters (`out/clusters`) and the
    *    keep-best representative per cluster → `out/kept` (the doc_ids
    *    a curated corpus retains)
    *  - sample: deterministic content-hash Bernoulli at `--sample-rate`
    *    over the kept set (or all docs when dedup is off) →
    *    `out/sample`
    * Stages share one cached scan of the input.
    */
  private def corpus(flags: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.col
    val ops = flags.getOrElse("ops", "quality,dedup,sample")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
    val known = Set("quality", "dedup", "segdedup", "decontam", "sample")
    require(ops.nonEmpty, s"--ops selected no stages (know: ${known.mkString(", ")})")
    require(ops.subsetOf(known),
      s"unknown ops: ${(ops -- known).mkString(", ")} (know: ${known.mkString(", ")})")
    // decontam's eval benchmark must be named up front, not after dedup
    // has already run for minutes
    val evalInput = flags.get("eval-input")
    require(!ops("decontam") || evalInput.isDefined,
      s"--ops decontam needs --eval-input EVAL.parquet (doc_id, text)\n$usage")
    val rate = flags.getOrElse("sample-rate", "1.0").toDouble
    val outDir = req(flags, "out")
    val spark = session(flags, "graft-cli-corpus")
    val raw = spark.read.parquet(req(flags, "input"))
    val docs = raw
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .persist()
    try {
      val total = docs.count()
      if (ops("quality")) {
        // langId passes a declared `lang` column through (its oracle
        // compares prediction vs truth); CLI inputs may not have one
        val withLang =
          if (raw.columns.contains("lang"))
            raw.select(col("doc_id").cast("long").as("doc_id"),
              col("text"), col("lang"))
          else docs.withColumn("lang",
            org.apache.spark.sql.functions.lit(null).cast("string"))
        // each stat keeps only its distinctive columns (tokenCounts,
        // quality and repetitionSignals all re-derive n_tokens/n_chars)
        graft.text.TextStats.tokenCounts(docs)
          .join(graft.text.TextStats.quality(docs)
            .select(col("doc_id"), col("n_stopwords"),
              col("stopword_ratio"), col("mean_token_len")), "doc_id")
          .join(graft.text.TextStats.langId(withLang)
            .select(col("doc_id"), col("pred_lang")), "doc_id")
          .join(graft.text.TextStats.repetitionSignals(docs)
            .drop("n_tokens"), "doc_id")
          .write.mode("overwrite").parquet(s"$outDir/quality")
        System.err.println(s"[corpus] quality: $total docs -> $outDir/quality")
      }
      val kept: org.apache.spark.sql.DataFrame =
        if (ops("dedup")) {
          val pairs = graft.dedup.Dedup.minhashLshPairs(spark, docs)
          val clusters = graft.dedup.Dedup.clusters(spark, docs, pairs,
            sorted = false).persist()
          try {
            clusters.write.mode("overwrite").parquet(s"$outDir/clusters")
            val reps = graft.dedup.Dedup.keepBest(docs, clusters)
            val k = reps.select(col("kept_doc").as("doc_id"))
            k.write.mode("overwrite").parquet(s"$outDir/kept")
            // read the written file ONCE: downstream stages consume the
            // durable artifact, not the (recomputable) plan behind k
            val keptDf = spark.read.parquet(s"$outDir/kept")
            val nKept = keptDf.count()
            System.err.println(s"[corpus] dedup: $total docs -> $nKept kept " +
              s"(${total - nKept} near/exact dups removed)")
            keptDf
          } finally clusters.unpersist()
        } else docs.select(col("doc_id"))
      if (ops("segdedup")) {
        // C4-style repeated-span removal REPORT (kept-text md5 per doc);
        // runs over the full input — span dedup is orthogonal to
        // document-level dedup
        val segTokens = flags.getOrElse("seg-tokens", "15").toInt
        graft.text.TextStats.segmentDedup(docs, segTokens)
          .write.mode("overwrite").parquet(s"$outDir/segdedup")
        System.err.println(s"[corpus] segdedup: $segTokens-token segments " +
          s"-> $outDir/segdedup")
      }
      val clean: org.apache.spark.sql.DataFrame =
        if (ops("decontam")) {
          val ev = spark.read.parquet(evalInput.get)
            .select(col("doc_id").cast("long").as("eval_id"), col("text"))
          val dec = graft.dedup.Dedup.decontaminate(docs, ev)
          dec.write.mode("overwrite").parquet(s"$outDir/decontam")
          val decDf = spark.read.parquet(s"$outDir/decontam")
          val nBad = decDf.filter(col("contaminated")).count()
          System.err.println(s"[corpus] decontam: $nBad contaminated docs " +
            s"flagged -> $outDir/decontam")
          // downstream sample draws from kept MINUS contaminated
          kept.join(decDf.filter(col("contaminated"))
            .select(col("doc_id")), Seq("doc_id"), "left_anti")
        } else kept
      if (ops("sample")) {
        val s = graft.sample.Sampling.hashSample(clean, col("doc_id"), rate)
        s.write.mode("overwrite").parquet(s"$outDir/sample")
        System.err.println(s"[corpus] sample: rate $rate -> " +
          s"${spark.read.parquet(s"$outDir/sample").count()} docs in $outDir/sample")
      }
    } finally docs.unpersist(): Unit
  }

  /** Run every *.json analysis job under --job-dir against the synced
    * graph (intel/analysis.py:12-42 + util.py:43-130): temp views
    * `nodes`/`edges` are the graph state, `--params`/`--update-tag`
    * bind `$param` placeholders via the scoped-params contract, missing
    * params fail fast before anything executes, and each job's final
    * pure-read result lands as parquet under `--out/<job-file-stem>`.
    */
  private def analysis(flags: Map[String, String]): Unit = {
    val spark = session(flags, "graft-cli-analysis")
    val workDir = req(flags, "work-dir")
    val outDir = req(flags, "out")
    val cliParams = parseParams(flags)
    val scope = flags.get("update-tag").map("UPDATE_TAG" -> _).toMap
    val params = graft.jobs.GraphJob.scopedParams(cliParams, scope)
    val jobFiles = graft.jobs.GraphJob.jobFilesIn(req(flags, "job-dir"))
    require(jobFiles.nonEmpty, s"no *.json jobs under ${req(flags, "job-dir")}")
    val jobs = jobFiles.map(p =>
      p -> graft.jobs.GraphJob.fromJson(java.nio.file.Files.readString(p)))
    // fail fast BEFORE any job writes: a missing param in job N must not
    // leave --out half-populated with jobs 1..N-1 (intel/analysis.py
    // validates up front for the same reason)
    val missing = jobs.flatMap(_._2.requiredParams).toSet -- params.keySet
    require(missing.isEmpty,
      s"analysis jobs reference undefined parameters: ${missing.toSeq.sorted.mkString(", ")} " +
        "— pass them via --params K=V,...")
    val views = Map(
      "nodes" -> GraphTables.nodes(spark, s"$workDir/graph").read(),
      "edges" -> GraphTables.edges(spark, s"$workDir/graph").read())
    jobs.foreach { case (p, job) =>
      val stem = p.getFileName.toString.stripSuffix(".json")
      val (_, lastRead) = job.run(spark, views, params)
      lastRead match {
        case Some(df) =>
          df.write.mode("overwrite").parquet(s"$outDir/$stem")
          System.err.println(s"[analysis] ${job.name}: wrote $outDir/$stem")
        case None =>
          System.err.println(s"[analysis] ${job.name}: no read statement, " +
            "nothing to write")
      }
    }
  }

  /** Whole-graph analytics over the synced graph
    * ([[graft.graph.Analytics]]): fixed-iteration PageRank and
    * max-normalized HITS over the (optionally `--rel-labels`-restricted)
    * directed edge table, triangle counts over its undirected view, and
    * weakly-connected components, written as parquet under
    * `--out/{pagerank,hits,triangles,components}`. The node universe is the
    * distinct endpoint set of the selected edges (so a label-restricted
    * run ranks exactly the subgraph it names); isolated nodes never
    * influence either metric. Runs post-sync, like the reference's
    * analysis stage — but these are the whole-graph algorithms its
    * per-query jobs cannot express.
    */
  private def analytics(flags: Map[String, String]): Unit = {
    val spark = session(flags, "graft-cli-analytics")
    import org.apache.spark.sql.functions.col
    val workDir = req(flags, "work-dir")
    val outDir = req(flags, "out")
    val iters = flags.getOrElse("pagerank-iters", "3").toInt
    val damping = flags.getOrElse("damping", "0.85").toDouble
    val all = GraphTables.edges(spark, s"$workDir/graph").read()
    val selected = flags.get("rel-labels") match {
      case Some(ls) =>
        all.filter(col("rel_label").isin(ls.split(',').toSeq: _*))
      case None => all
    }
    // three whole-graph operators share the projected edge set and the
    // endpoint distinct — cache both once instead of re-scanning the
    // edge table per operator (the same shared-input caching Analytics
    // applies internally per operator)
    val e = selected.select(col("src_id").as("src"), col("dst_id").as("dst"))
      .persist()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().persist()
    try {
      graft.graph.Analytics.pageRank(e, nodes, iters, damping)
        .write.mode("overwrite").parquet(s"$outDir/pagerank")
      graft.graph.Analytics.triangleCounts(e)
        .write.mode("overwrite").parquet(s"$outDir/triangles")
      graft.link.ConnectedComponents.run(spark,
          e.select(col("src").as("u"), col("dst").as("v")).distinct(), nodes)
        .select(col("id"), col("canonical_id").as("component"))
        .write.mode("overwrite").parquet(s"$outDir/components")
      graft.graph.Analytics.hits(e, nodes,
          flags.getOrElse("hits-iters", "2").toInt)
        .write.mode("overwrite").parquet(s"$outDir/hits")
    } finally { e.unpersist(); nodes.unpersist(): Unit }
    System.err.println(s"[analytics] wrote $outDir/pagerank ($iters " +
      s"iterations, damping $damping), $outDir/triangles, " +
      s"$outDir/components and $outDir/hits")
  }

  private def graphViews(spark: SparkSession, workDir: String): Unit = {
    GraphTables.nodes(spark, s"$workDir/graph").read()
      .createOrReplaceTempView("nodes")
    GraphTables.edges(spark, s"$workDir/graph").read()
      .createOrReplaceTempView("edges")
  }

  /** Registry mode (--drift-dir): capture a NEW timestamped state for
    * every query dir and move its `most-recent` shortcut
    * (driftdetect/get_states.py:99-128). Legacy mode (--name/--query/
    * --out): one ad-hoc state to an explicit file.
    */
  private def getState(flags: Map[String, String]): Unit = {
    val spark = session(flags, "graft-cli-state")
    graphViews(spark, req(flags, "work-dir"))
    flags.get("drift-dir") match {
      case Some(dd) =>
        // millisecond default: a second-resolution default made two
        // captures within one second collide mid-captureAll, leaving the
        // registry partially updated (ADVICE r3)
        val ts = flags.get("timestamp").map(_.toLong)
          .getOrElse(System.currentTimeMillis())
        val written = DriftRegistry.captureAll(spark, dd, ts)
        require(written.nonEmpty, s"no query dirs (template.json) under $dd")
        written.foreach(p => System.err.println(s"[get-state] captured $p"))
      case None =>
        val query = req(flags, "query")
        val state = DriftStates.fromDataFrame(req(flags, "name"), query,
          spark.sql(query))
        DriftStates.save(state, req(flags, "out"))
    }
  }

  /** Registry mode resolves --start/--end through the query dir's
    * shortcuts and defaults to the two most recent captures; legacy mode
    * takes two explicit files.
    */
  private def drift(flags: Map[String, String]): Unit = {
    val (startP, endP) = flags.get("drift-dir") match {
      case Some(dd) =>
        val qd = s"$dd/${req(flags, "query")}"
        (flags.get("start"), flags.get("end")) match {
          case (Some(s), Some(e)) =>
            (DriftRegistry.resolve(qd, s), DriftRegistry.resolve(qd, e))
          case (None, None) => DriftRegistry.twoMostRecent(qd)
          case _ => sys.error(s"drift needs BOTH --start and --end, or neither\n$usage")
        }
      case None =>
        (java.nio.file.Paths.get(req(flags, "start")),
          java.nio.file.Paths.get(req(flags, "end")))
    }
    val start = DriftStates.load(startP.toString)
    val end = DriftStates.load(endP.toString)
    val (added, removed) = DriftStates.performDriftDetection(start, end)
    println(DriftStates.diffJson(added, removed))
  }

  private def addShortcut(flags: Map[String, String]): Unit =
    DriftRegistry.addShortcut(
      s"${req(flags, "drift-dir")}/${req(flags, "query")}",
      req(flags, "alias"), req(flags, "file"))
}

package graft

import graft.workspace.{Workspace, WorkspaceConfig}
import graft.materialize.Materialize

/** The `slicer` CLI (reference `cubes/slicer/commands.py`): the workspace
  * verbs a config file drives —
  *
  * {{{
  * slicer serve <config.ini> [port]
  * slicer denormalize <config.ini> <cube> <target-dir> [partition-by-ref]
  * slicer aggregate <config.ini> <cube> <target-dir> [drilldown-ref ...]
  * slicer extract-dimension <config.ini> <cube> <dimension> <target-dir>
  * slicer model validate [--no-warnings] [--defaults] <model.json|bundle-dir>
  * slicer model convert [--format json|bundle] [--force] <model> [target]
  * slicer ext-info [TYPE]
  * slicer list [--verbose] <config.ini>
  * slicer test [--aggregate] <config.ini> [cube ...]
  * }}}
  *
  * `serve` maps to the reference's `slicer serve` (`commands.py:52-67`);
  * `denormalize`/`aggregate` to `slicer sql denormalize|aggregate`
  * (`commands.py:333-444`) with parquet directories as the targets —
  * the Spark-native materialization sinks; `model validate`/`model
  * convert` to the metadata tools (`commands.py:146-311`) — validate
  * aggregates EVERY finding ([[graft.model.ModelValidator]]) instead of
  * stopping at the first, and exits 1 iff errors were found. */
object Slicer {

  def main(args: Array[String]): Unit = args.toList match {
    case "serve" :: config :: rest =>
      rest.headOption.foreach { p =>
        if (p.toIntOption.isEmpty) {
          System.err.println(s"bad port '$p' — usage: slicer serve <config.ini> [port]")
          sys.exit(2)
        }
      }
      val spark = Sessions.serving()
      val (ws, cfg) = WorkspaceConfig.loadWithConfig(spark, config)
      val port = rest.headOption.flatMap(_.toIntOption)
        .getOrElse(WorkspaceConfig.serverPort(cfg))
      val host = cfg.getOrElse("server", Map.empty)
        .getOrElse("host", "127.0.0.1")
      // `[info]` section → the /info and / "about" block (reference
      // `[workspace] info`, workspace.py:139-146)
      val server = new graft.server.SlicerServer(ws, port, host = host,
        serverInfo = cfg.getOrElse("info", Map.empty),
        // `[query_log*]` sections + `[server] log`/`asynchronous_logging`
        // → per-request audit records (reference blueprint.py:131-142)
        requestLogger = graft.server.RequestLog.configuredLogger(cfg),
        // `[server] authentication` + `[authentication]` options
        // (reference blueprint.py:112-125)
        authenticator = graft.server.Authenticators.configured(cfg),
        // `[server] allow_cors_origin` + `[server] visualizer`
        // (reference blueprint.py:109-110)
        allowCorsOrigin = cfg.getOrElse("server", Map.empty)
          .get("allow_cors_origin"),
        visualizer = cfg.getOrElse("server", Map.empty).get("visualizer"))
      val bound = server.start()
      println(s"slicer server listening on $host:$bound")
      Thread.currentThread().join() // serve until killed

    case "denormalize" :: config :: cube :: target :: rest =>
      val spark = Sessions.serving()
      val ws = WorkspaceConfig.load(spark, config)
      println(s"denormalizing cube '$cube' into '$target'")
      Materialize.writeDenormalized(ws.browser(cube), target,
        partitionBy = rest)
      spark.stop()

    case "aggregate" :: config :: cube :: target :: drilldown =>
      val spark = Sessions.serving()
      val ws = WorkspaceConfig.load(spark, config)
      val dd = if (drilldown.nonEmpty) drilldown
        else ws.cube(cube).dimensions.map(_.name)
      // materialize only RE-AGGREGABLE aggregates: window calculators are
      // meaningless in a cuboid sink, and avg/stddev/median cannot be
      // rolled up further from a pre-aggregate (the q35 gate pattern)
      val additive = Set("sum", "count", "count_nonempty", "min", "max")
      val aggs = ws.cube(cube).aggregates
        .filter(_.function.exists(additive.contains)).map(_.name)
      // NEVER pass an empty list down: Browser.aggregate treats Nil as
      // "all cube aggregates", which would materialize exactly the
      // non-re-aggregable cuboid this filter exists to prevent
      if (aggs.isEmpty) {
        System.err.println(s"cube '$cube' has no additive " +
          s"(${additive.mkString("/")}) aggregates to materialize; " +
          "pre-aggregation would not be re-aggregable — aborting")
        sys.exit(2)
      }
      println(s"aggregating cube '$cube' at (${dd.mkString(", ")}) " +
        s"[${aggs.mkString(", ")}] into '$target'")
      Materialize.preAggregate(ws.browser(cube), dd, aggs, target)
      spark.stop()

    case "extract-dimension" :: config :: cube :: dim :: target :: Nil =>
      val spark = Sessions.serving()
      val ws = WorkspaceConfig.load(spark, config)
      println(s"extracting dimension '$dim' of cube '$cube' into '$target'")
      Materialize.extractDimension(ws.browser(cube), dim, target)
      spark.stop()

    case "list" :: rest =>
      val (flags, files) = rest.partition(_.startsWith("--"))
      files match {
        case config :: Nil =>
          val spark = Sessions.serving()
          val ws = WorkspaceConfig.load(spark, config)
          listCubes(ws, verbose = flags.contains("--verbose"))
          spark.stop()
        case _ =>
          System.err.println("usage: slicer list [--verbose] <config.ini>")
          sys.exit(2)
      }

    case "test" :: rest =>
      val (flags, files) = rest.partition(_.startsWith("--"))
      files match {
        case config :: cubeNames =>
          val spark = Sessions.serving()
          val ws = WorkspaceConfig.load(spark, config)
          val errors = testCubes(ws, cubeNames,
            aggregate = flags.contains("--aggregate"))
          spark.stop()
          if (errors > 0) sys.exit(1)
        case _ =>
          System.err.println("usage: slicer test [--aggregate] <config.ini> [cube ...]")
          sys.exit(2)
      }

    case "ext-info" :: rest =>
      rest match {
        case Nil | ("all" :: _)   => println(extInfo(None))
        case t :: Nil             => println(extInfo(Some(t)))
        case _ =>
          System.err.println("usage: slicer ext-info [TYPE]")
          sys.exit(2)
      }

    case "model" :: "validate" :: rest =>
      val (flags, files) = rest.partition(_.startsWith("--"))
      val showWarnings = !flags.contains("--no-warnings")
      val showDefaults = flags.contains("--defaults")
      files match {
        case modelPath :: Nil =>
          sys.exit(validateModel(modelPath, showWarnings, showDefaults))
        case _ =>
          System.err.println(
            "usage: slicer model validate [--no-warnings] [--defaults] <model>")
          sys.exit(2)
      }

    case "model" :: "convert" :: rest =>
      val (flags, files) = rest.partition(_.startsWith("--"))
      val format = flags.collectFirst {
        case f if f.startsWith("--format=") => f.stripPrefix("--format=")
      }.getOrElse("json")
      val force = flags.contains("--force")
      files match {
        case modelPath :: maybeTarget if maybeTarget.size <= 1 =>
          convertModel(modelPath, maybeTarget.headOption, format, force)
        case _ =>
          System.err.println(
            "usage: slicer model convert [--format=json|bundle] [--force] <model> [target]")
          sys.exit(2)
      }

    case other =>
      System.err.println(
        s"""unknown slicer invocation: ${other.mkString(" ")}
           |usage:
           |  slicer serve <config.ini> [port]
           |  slicer denormalize <config.ini> <cube> <target-dir> [partition-by-ref]
           |  slicer aggregate <config.ini> <cube> <target-dir> [drilldown-ref ...]
           |  slicer extract-dimension <config.ini> <cube> <dimension> <target-dir>
           |  slicer model validate [--no-warnings] [--defaults] <model>
           |  slicer model convert [--format=json|bundle] [--force] <model> [target]
           |  slicer ext-info [TYPE]
           |  slicer list [--verbose] <config.ini>
           |  slicer test [--aggregate] <config.ini> [cube ...]""".stripMargin)
      sys.exit(2)
  }

  /** `list` body (reference `slicer list`, `commands.py:122-143`):
    * one `name - label` line per cube; `--verbose` keeps the same shape
    * (the model has no per-cube description field to add). */
  def listCubes(ws: Workspace, verbose: Boolean = false,
      out: String => Unit = println): Unit =
    ws.cubeNames.foreach { n =>
      val c = ws.cube(n)
      out(s"$n - ${c.label.getOrElse(n)}")
    }

  /** `test` body (reference `slicer test`, `commands.py:219-288`): build
    * every cube's browser and run a one-row facts probe (`--aggregate`
    * runs a summary over the cube's additive aggregates instead) —
    * continues past failures and returns the error count so a broken
    * cube cannot hide the state of the others. */
  def testCubes(ws: Workspace, cubeNames: Seq[String] = Nil,
      aggregate: Boolean = false, out: String => Unit = println): Int = {
    val names = if (cubeNames.nonEmpty) cubeNames else ws.cubeNames
    val errors = scala.collection.mutable.ArrayBuffer.empty[(String, Throwable)]
    var tested = 0
    names.foreach { name =>
      tested += 1
      try {
        val b = ws.browser(name)
        if (aggregate) {
          val additive = Set("sum", "count", "count_nonempty", "min", "max")
          val aggs = ws.cube(name).aggregates
            .filter(_.function.exists(additive.contains)).map(_.name)
          if (aggs.nonEmpty) b.aggregate(aggregates = aggs).cells.count()
          else b.facts(pageSize = Some(1)).count()
        } else b.facts(pageSize = Some(1)).count()
        out(s"testing $name: ok")
      } catch {
        case e: Throwable =>
          errors += name -> e
          out(s"testing $name: ERROR")
      }
    }
    out("")
    out(s"tested $tested cubes")
    if (errors.nonEmpty) {
      out(s"${errors.size} ERRORS:")
      errors.foreach { case (n, e) =>
        out(s"$n: ${e.getClass.getSimpleName} - ${e.getMessage}") }
    } else out("test passed")
    errors.size
  }

  /** `ext-info` body (reference `slicer ext-info`, `commands.py:70-116`):
    * lists the extension surface per type — the live registries (built-in
    * + ServiceLoader-discovered) for aggregate functions and window
    * calculators, the served formats, store kinds and authenticator /
    * authorizer schemes. */
  def extInfo(extType: Option[String]): String = {
    val types: Seq[(String, Seq[String])] = Seq(
      "aggregate_function" ->
        graft.functions.AggFunctions.builders.keys.toSeq.sorted,
      "window_calculator" ->
        graft.functions.WindowCalcs.names.toSeq.sorted,
      "format" -> Seq("csv", "json", "xlsx"),
      "store" -> Seq("parquet_dir"),
      "authenticator" -> Seq("bearer", "parameter"),
      "authorizer" -> Seq("simple"))
    val chosen = extType match {
      case None => types
      case Some(t) =>
        val hit = types.filter(_._1 == t)
        require(hit.nonEmpty, s"unknown extension type '$t' " +
          s"(known: ${types.map(_._1).mkString(", ")})")
        hit
    }
    "Available cubesspark extensions:\n\n" + chosen.map { case (t, names) =>
      s"$t:\n    ${names.mkString(", ")}\n"
    }.mkString("\n")
  }

  /** `model validate` body, separated for testability: prints every
    * finding (filtered per flags like the reference CLI), the severity
    * counts and the verdict; returns the process exit code (1 iff any
    * error-severity finding). */
  def validateModel(modelPath: String, showWarnings: Boolean = true,
      showDefaults: Boolean = false,
      out: String => Unit = println): Int = {
    import graft.model.{ModelBundle, ModelValidator}
    out(s"Reading model $modelPath")
    // lenient: unreadable member files become findings (the CLI must
    // report every broken file, not stack-trace on the first)
    val (metadata, readIssues) = ModelBundle.readLenient(modelPath)
    out("Validating model...")
    val issues = readIssues ++ ModelValidator.validate(metadata)
    issues.foreach { i =>
      val show = i.severity match {
        case "warning" => showWarnings
        case "default" => showDefaults
        case _         => true
      }
      if (show) out(i.render)
    }
    val (defaults, warnings, errors) = ModelValidator.counts(issues)
    out("")
    out(s"Defaults used  $defaults")
    out(s"Warning        $warnings")
    out(s"Errors         $errors")
    out(s"Summary        ${ModelValidator.verdict(issues)}")
    if (errors > 0) 1 else 0
  }

  /** `model convert` body: file ↔ bundle, like the reference
    * (`commands.py:290-311`) — json format prints to stdout when no
    * target is given. */
  def convertModel(modelPath: String, target: Option[String],
      format: String, force: Boolean): Unit = {
    import graft.model.ModelBundle
    val metadata = ModelBundle.read(modelPath)
    format match {
      case "json" =>
        val text = ModelBundle.renderJson(metadata)
        target match {
          case None => println(text)
          case Some(t) => java.nio.file.Files.write(
            java.nio.file.Paths.get(t),
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      case "bundle" =>
        val t = target.getOrElse(
          throw new IllegalArgumentException("bundle format needs a target directory"))
        ModelBundle.writeBundle(t, metadata, replace = force)
      case other =>
        throw new IllegalArgumentException(s"unknown model format '$other'")
    }
  }
}

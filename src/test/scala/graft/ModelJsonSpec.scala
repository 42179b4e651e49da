package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._

class ModelJsonSpec extends AnyFunSuite with SharedSpark {

  private val json =
    """{
      |  "dimensions": [
      |    {"name": "date", "role": "time",
      |     "levels": [
      |       {"name": "year", "role": "year"},
      |       {"name": "month", "attributes": ["month", "month_name"],
      |        "key": "month", "label_attribute": "month_name"},
      |       "day"],
      |     "hierarchies": [
      |       {"name": "ymd", "levels": ["year", "month", "day"]},
      |       {"name": "ym", "levels": ["year", "month"]}]},
      |    {"name": "flag"},
      |    {"name": "shipdate", "template": "date", "label": "Ship date"}
      |  ],
      |  "cubes": [{
      |    "name": "sales",
      |    "fact": "fact_sales",
      |    "key": "id",
      |    "dimensions": ["date", "flag", "adhoc"],
      |    "measures": ["amount", {"name": "price", "aggregates": ["sum", "avg"]}],
      |    "joins": [{"master": "fact_sales.date_id", "detail": "dim_date.id",
      |               "method": "master"}],
      |    "mappings": {
      |      "date.year": "dim_date.year",
      |      "date.day": {"table": "dim_date", "column": "d", "extract": "day"}}
      |  }]
      |}""".stripMargin

  lazy val cube: Cube = ModelJson.loadString(json).head

  /** A model fixture under src/test/resources/models. */
  private def fixture(rel: String): String =
    java.nio.file.Paths.get(getClass.getResource(s"/models/$rel").toURI).toString
  private def fixtureText(rel: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixture(rel))), "UTF-8")

  test("cube basics + key + fact table") {
    assert(cube.name == "sales")
    assert(cube.factTable == "fact_sales")
    assert(cube.keyColumn.contains("id"))
  }

  test("linked, flat, and unknown-bare dimensions expand correctly") {
    val date = cube.dimension("date")
    assert(date.role.contains("time"))
    assert(date.levels.map(_.name) == Seq("year", "month", "day"))
    assert(date.level("month").key.name == "month")
    assert(date.level("month").labelAttribute.name == "month_name")
    assert(date.hierarchy(Some("ym")).levelNames == Seq("year", "month"))
    // bare string level
    assert(date.level("day").attributes.map(_.name) == Seq("day"))
    // flat dimension: bare ref
    assert(cube.dimension("flag").levels.head.key.ref == "flag")
    // name not in shared dims → flat adhoc dimension
    assert(cube.dimension("adhoc").isFlat)
  }

  test("dimension templates clone the base definition with overrides") {
    val cubes = ModelJson.loadString(json)
    val _ = cubes // templates resolved at load; check via a fresh parse
    val dims = ModelJson.loadString(json.replace("\"dimensions\": [\"date\", \"flag\", \"adhoc\"]",
      "\"dimensions\": [\"date\", \"shipdate\"]"))
    val ship = dims.head.dimension("shipdate")
    assert(ship.levels.map(_.name) == Seq("year", "month", "day"))
    assert(ship.label.contains("Ship date"))
    assert(ship.role.contains("time"))
  }

  test("default aggregates derive from measures + fact count") {
    val names = cube.aggregates.map(_.name)
    assert(names.contains("amount_sum"))
    assert(names.contains("price_sum") && names.contains("price_avg"))
    assert(names.contains("fact_count"))
  }

  test("joins and mappings parse with methods and extracts") {
    val j = cube.joins.head
    assert(j.masterTable == "fact_sales" && j.masterColumns == Seq("date_id"))
    assert(j.detailTable == "dim_date" && j.method == JoinMethod.Master)
    assert(cube.mappings("date.year") == PhysicalRef("dim_date", "year"))
    assert(cube.mappings("date.day") ==
      PhysicalRef("dim_date", "d", extract = Some("day")))
  }

  test("templates chain recursively and resolve for cube-inline dimensions") {
    val chained =
      """{
        |  "dimensions": [
        |    {"name": "base", "levels": [{"name": "year"}, {"name": "month"}]},
        |    {"name": "mid", "template": "base", "label": "Mid"},
        |    {"name": "leaf", "template": "mid"}
        |  ],
        |  "cubes": [{"name": "c1", "fact": "f",
        |    "dimensions": ["leaf", {"name": "inline_d", "template": "base"}]}]
        |}""".stripMargin
    val c = ModelJson.loadString(chained).head
    // leaf inherited base's levels THROUGH mid (and mid's label)
    val leaf = c.dimension("leaf")
    assert(leaf.levels.map(_.name) == Seq("year", "month"))
    assert(leaf.label.contains("Mid"))
    // a cube-inline dimension object may template a shared definition
    assert(c.dimension("inline_d").levels.map(_.name) == Seq("year", "month"))
    // circular templates are detected, not a stack overflow
    val circular = chained.replace("""{"name": "base", "levels": [{"name": "year"}, {"name": "month"}]}""",
      """{"name": "base", "template": "leaf"}""")
    intercept[IllegalArgumentException](ModelJson.loadString(circular))
  }

  test("cube-level nonadditive is inherited by measures (reference test_inherit_nonadditive)") {
    val c = ModelJson.loadString(json.replace(
      "\"name\": \"sales\",", "\"name\": \"sales\", \"nonadditive\": \"time\",")).head
    assert(c.measures.forall(_.nonadditive.contains("time")))
    // a measure's own value wins over the cube default
    val c2 = ModelJson.loadString(json
      .replace("\"name\": \"sales\",", "\"name\": \"sales\", \"nonadditive\": \"time\",")
      .replace("""{"name": "price", "aggregates": ["sum", "avg"]}""",
        """{"name": "price", "aggregates": ["sum", "avg"], "nonadditive": "none"}""")).head
    assert(c2.measures.find(_.name == "price").get.nonadditive.contains("none"))
  }

  // ---- dimension links (reference test_model.py test_link_hierarchies)

  private def linkJson(link: String) = json.replace(
    "\"dimensions\": [\"date\", \"flag\", \"adhoc\"]",
    s"""\"dimensions\": [$link, "flag", "adhoc"]""")

  test("link: bare name keeps all hierarchies, default stays ymd") {
    val c = ModelJson.loadString(linkJson("{\"name\": \"date\"}")).head
    val d = c.dimension("date")
    assert(d.allHierarchies.size == 2)
    assert(d.hierarchy(None).name == "ymd")
  }

  test("link: hierarchies subset keeps only ym and its levels") {
    val c = ModelJson.loadString(
      linkJson("""{"name": "date", "hierarchies": ["ym"]}""")).head
    val d = c.dimension("date")
    assert(d.allHierarchies.map(_.name) == Seq("ym"))
    assert(d.hierarchy(None).name == "ym")
    assert(d.levels.map(_.name) == Seq("year", "month")) // day dropped
  }

  test("link: exclude_hierarchies drops ymd, default falls to first kept") {
    val c = ModelJson.loadString(
      linkJson("""{"name": "date", "exclude_hierarchies": ["ymd"]}""")).head
    val d = c.dimension("date")
    assert(d.allHierarchies.map(_.name) == Seq("ym"))
    assert(d.hierarchy(None).name == "ym")
  }

  test("link: alias renames the dimension and re-owns attribute refs") {
    val c = ModelJson.loadString(
      linkJson("""{"name": "date", "alias": "closing_date"}""")).head
    val d = c.dimension("closing_date")
    assert(d.allHierarchies.size == 2)
    assert(d.attributes.forall(_.ref.startsWith("closing_date.")))
    // the original shared dimension is untouched
    assert(ModelJson.loadString(linkJson("{\"name\": \"date\"}")).head
      .dimension("date").attributes.forall(_.ref.startsWith("date.")))
  }

  // ---- model-label localization (reference metadata/localization.py,
  // translation shape from tests/models/translation.json)

  private val translation =
    """{
      |  "cubes": {
      |    "sales": {
      |      "label": "Verkäufe",
      |      "measures": {"amount": "Betrag",
      |                   "price": {"label": "Preis"}},
      |      "dimensions": {"date": {"label": "Datum",
      |                              "levels": {"year": "Jahr"}}}
      |    }
      |  },
      |  "measures": {"amount": "Betrag_GLOBAL"},
      |  "dimensions": {"flag": {"label": "Markierung"}}
      |}""".stripMargin

  test("localization: cube-local labels win, global sections are fallback") {
    val c = Localization.localizeCube(cube,
      org.json4s.jackson.JsonMethods.parse(translation))
    assert(c.label.contains("Verkäufe"))
    // cube-local measure label beats the global one
    assert(c.measures.find(_.name == "amount").get.label.contains("Betrag"))
    assert(c.measures.find(_.name == "price").get.label.contains("Preis"))
    // dimension + level labels from the cube-local section
    val d = c.dimension("date")
    assert(d.label.contains("Datum"))
    assert(d.levels.find(_.name == "year").get.label.contains("Jahr"))
    // global dimensions section localizes dims the cube section omits
    assert(c.dimension("flag").label.contains("Markierung"))
    // untranslated objects keep their original (absent) label
    assert(c.dimension("adhoc").label.isEmpty)
  }

  test("localization: Workspace.cube(name, locale) + unknown locale no-op") {
    val ws = new graft.workspace.Workspace(spark)
      .registerCube(cube)
      .importTranslations(Map("de" -> translation))
    assert(ws.cube("sales", Some("de")).label.contains("Verkäufe"))
    assert(ws.cube("sales", Some("fr")).label == cube.label)
    assert(ws.cube("sales", None).label == cube.label)
  }

  // ------------------------------------------------------------- validator

  test("validator aggregates ALL findings from a three-error model") {
    // three independent errors: a cyclic expression pair, a dangling
    // aggregate measure, and a circular dimension template — plus a
    // defaulting note for the undescribed dimension. ModelJson.loadString
    // would throw at the first; the validator reports every one.
    val bad =
      """{
        |  "dimensions": [
        |    {"name": "loop_a", "template": "loop_b"},
        |    {"name": "loop_b", "template": "loop_a"}
        |  ],
        |  "cubes": [{
        |    "name": "sales",
        |    "dimensions": ["adhoc"],
        |    "measures": [
        |      {"name": "a", "expression": "b + 1"},
        |      {"name": "b", "expression": "a * 2"}
        |    ],
        |    "aggregates": [
        |      {"name": "ghost_sum", "function": "sum", "measure": "ghost"}
        |    ]
        |  }]
        |}""".stripMargin
    val issues = ModelValidator.validateString(bad)
    val errors = issues.filter(_.severity == "error")
    assert(errors.exists(_.message.contains("circular dimension template")))
    assert(errors.exists(_.message.contains("unknown measure 'ghost'")))
    assert(errors.exists(_.message.contains("cyclic expression")))
    assert(errors.size >= 3)
    assert(issues.exists(i => i.severity == "default" &&
      i.message.contains("'adhoc' is not described")))
    assert(ModelValidator.verdict(issues) == "model can not be used")
  }

  test("validator: clean model has no errors; unknown agg function warns") {
    val issues = ModelValidator.validateString(json)
    assert(!issues.exists(_.severity == "error"),
      issues.filter(_.severity == "error").map(_.render).mkString("; "))

    val warny =
      """{"cubes": [{"name": "c",
        |  "measures": [{"name": "m"}],
        |  "aggregates": [{"name": "x", "function": "frobnicate", "measure": "m"}]}]}""".stripMargin
    val ws = ModelValidator.validateString(warny)
    assert(ws.exists(w => w.severity == "warning" &&
      w.message.contains("unknown aggregate function 'frobnicate'")))
    assert(ModelValidator.verdict(ws).startsWith("not recommended"))
  }

  test("validator: measure-level aggregate fns and attribute order values are checked") {
    val m =
      """{"dimensions": [{"name": "d", "levels": [
        |    {"name": "l", "attributes": [{"name": "a", "order": "sideways"}]}]}],
        | "cubes": [{"name": "c", "dimensions": ["d"],
        |   "measures": [{"name": "m", "aggregates": ["sum", "frobnicate"]}]}]}""".stripMargin
    val issues = ModelValidator.validateString(m)
    assert(issues.exists(i => i.severity == "warning" &&
      i.property.contains("measure 'm'") &&
      i.message.contains("unknown aggregate function 'frobnicate'")))
    assert(issues.exists(i => i.severity == "error" &&
      i.message.contains("order must be 'asc' or 'desc'")))
    // "sum" on the same measure raises nothing
    assert(!issues.exists(_.message.contains("'sum'")))
  }

  test("validator: malformed JSON and non-object roots are single errors") {
    assert(ModelValidator.validateString("{nope").head.severity == "error")
    assert(ModelValidator.validateString("[1,2]").head.severity == "error")
  }

  test("validator parity: every reference finding type fires on a fixture") {
    // item-by-item sweep of the reference checklist: the four hand-written
    // checks of validate_model (cubes/metadata/defaults.py:28-124) plus
    // every constraint its three JSON Schemas enforce
    // (cubes/schemas/{model,cube,dimension}.json — additionalProperties,
    // required names, enums, item types). One fixture per finding type.
    val cases: Seq[(String, String, String, String)] = Seq(
      // -- defaults.py hand-written checks
      ("string dimension defaults to flat",
        """{"dimensions": ["undescribed"]}""",
        "default", "is not described"),
      ("no default hierarchy name",
        """{"dimensions": [{"name": "d", "levels": ["a"]}]}""",
        "default", "No default hierarchy name"),
      ("neither levels nor attributes",
        """{"dimensions": [{"name": "d"}]}""",
        "default", "Neither levels nor attributes"),
      ("both levels and attributes",
        """{"dimensions": [{"name": "d", "levels": ["a"], "attributes": ["x"]}]}""",
        "error", "Both levels and attributes"),
      // -- model.json: additionalProperties + property types
      ("unknown model property",
        """{"frobnicate": 1}""",
        "error", "unknown property 'frobnicate'"),
      ("model label must be a string",
        """{"label": 42}""",
        "error", "'label' must be a string"),
      ("model info must be an object",
        """{"info": [1]}""",
        "error", "'info' must be an object"),
      ("model joins must be an array",
        """{"joins": {}}""",
        "error", "'joins' must be an array"),
      ("model cubes must be an array",
        """{"cubes": {}}""",
        "error", "'cubes' must be an array"),
      ("model dimensions must be an array",
        """{"dimensions": "d"}""",
        "error", "'dimensions' must be an array"),
      // -- dimension.json: required name, additionalProperties, enums
      ("dimension without a name",
        """{"dimensions": [{"levels": ["a"]}]}""",
        "error", "dimension without a name"),
      ("unknown dimension property",
        """{"dimensions": [{"name": "d", "levels": ["a"], "color": "red"}]}""",
        "error", "unknown property 'color'"),
      ("bad dimension cardinality",
        """{"dimensions": [{"name": "d", "levels": ["a"], "cardinality": "huge"}]}""",
        "error", "cardinality must be one of tiny/low/medium/high"),
      ("level without a name",
        """{"dimensions": [{"name": "d", "levels": [{"key": "k"}]}]}""",
        "error", "level without a name"),
      ("unknown level property",
        """{"dimensions": [{"name": "d", "levels": [{"name": "l", "size": 9}]}]}""",
        "error", "unknown property 'size'"),
      ("bad level cardinality",
        """{"dimensions": [{"name": "d", "levels": [{"name": "l", "cardinality": "big"}]}]}""",
        "error", "cardinality must be one of tiny/low/medium/high"),
      ("bad level order",
        """{"dimensions": [{"name": "d", "levels": [{"name": "l", "order": "up"}]}]}""",
        "error", "order must be 'asc' or 'desc'"),
      ("hierarchy without a name",
        """{"dimensions": [{"name": "d", "levels": ["a"],
          |  "hierarchies": [{"levels": ["a"]}]}]}""".stripMargin,
        "error", "hierarchy without a name"),
      ("unknown hierarchy property",
        """{"dimensions": [{"name": "d", "levels": ["a"],
          |  "hierarchies": [{"name": "h", "levels": ["a"], "depth": 1}]}]}""".stripMargin,
        "error", "unknown property 'depth'"),
      ("hierarchy levels must be level names",
        """{"dimensions": [{"name": "d", "levels": ["a"],
          |  "hierarchies": [{"name": "h", "levels": [1]}]}]}""".stripMargin,
        "error", "'levels' must be an array of level names"),
      // -- attribute schema (shared by dimension/level attributes)
      ("attribute without a name",
        """{"dimensions": [{"name": "d", "attributes": [{"label": "x"}]}]}""",
        "error", "attribute without a name"),
      ("unknown attribute property",
        """{"dimensions": [{"name": "d", "attributes": [{"name": "a", "width": 3}]}]}""",
        "error", "unknown property 'width'"),
      ("bad attribute order",
        """{"dimensions": [{"name": "d", "levels": [{"name": "l",
          |  "attributes": [{"name": "a", "order": "sideways"}]}]}]}""".stripMargin,
        "error", "order must be 'asc' or 'desc'"),
      ("attribute locales must be strings",
        """{"dimensions": [{"name": "d", "attributes": [{"name": "a", "locales": [1]}]}]}""",
        "error", "'locales' must be an array of strings"),
      ("attribute missing_value must be scalar",
        """{"dimensions": [{"name": "d", "attributes": [{"name": "a", "missing_value": {"v": 1}}]}]}""",
        "error", "'missing_value' must be a string, number, boolean or null"),
      // -- cube.json: required name, additionalProperties, types
      ("cube without a name",
        """{"cubes": [{"fact": "f"}]}""",
        "error", "cube without a name"),
      ("unknown cube property",
        """{"cubes": [{"name": "c", "turbo": true}]}""",
        "error", "unknown property 'turbo'"),
      ("implicit_aggregates must be boolean",
        """{"cubes": [{"name": "c", "implicit_aggregates": "yes"}]}""",
        "error", "'implicit_aggregates' must be a boolean"),
      ("cube measures must be an array",
        """{"cubes": [{"name": "c", "measures": {}}]}""",
        "error", "'measures' must be an array"),
      ("cube joins must be an array",
        """{"cubes": [{"name": "c", "joins": {}}]}""",
        "error", "'joins' must be an array"),
      ("cube mappings must be an object",
        """{"cubes": [{"name": "c", "mappings": []}]}""",
        "error", "'mappings' must be an object"))

    cases.foreach { case (label, json, severity, needle) =>
      val issues = ModelValidator.validateString(json)
      assert(issues.exists(i =>
        i.severity == severity && i.message.contains(needle)),
        s"$label: expected $severity '$needle' in " +
          issues.map(_.render).mkString("; "))
    }

    // and well-formed models stay clean under the stricter sweep (the
    // allowlists must match the schemas, not under-approximate)
    Seq("tutorial_model.json", "hello_world/model.json").foreach { p =>
      assert(!ModelValidator.validateString(fixtureText(p)).exists(_.severity == "error"), p)
    }
  }

  test("slicer model validate exit codes: 1 on errors, 0 otherwise") {
    val dir = java.nio.file.Files.createTempDirectory("graft-validate")
    val badPath = dir.resolve("bad.json")
    java.nio.file.Files.write(badPath,
      """{"cubes": [{"name": "c", "aggregates": [{"name": "s", "function": "sum", "measure": "gone"}]}]}"""
        .getBytes("UTF-8"))
    val okPath = dir.resolve("ok.json")
    java.nio.file.Files.write(okPath,
      """{"cubes": [{"name": "c", "measures": ["amount"]}]}""".getBytes("UTF-8"))
    val sink = new StringBuilder
    assert(Slicer.validateModel(badPath.toString, out = s => sink.append(s).append('\n')) == 1)
    assert(sink.toString.contains("ERROR in cube 'c'"))
    assert(sink.toString.contains("model can not be used"))
    assert(Slicer.validateModel(okPath.toString, out = _ => ()) == 0)
  }

  test("singular 'hierarchy' shorthand expands to the default hierarchy; both forms refuse") {
    val m =
      """{"dimensions": [{"name": "d",
        |  "levels": ["a", "b", "c"],
        |  "hierarchy": ["a", "b"]}],
        | "cubes": [{"name": "c1", "dimensions": ["d"]}]}""".stripMargin
    val d = ModelJson.loadString(m).head.dimension("d")
    assert(d.allHierarchies.map(_.name) == Seq("default"))
    assert(d.hierarchy(None).levelNames == Seq("a", "b"))
    val both =
      """{"dimensions": [{"name": "d", "levels": ["a"],
        |  "hierarchy": ["a"], "hierarchies": [{"name": "h", "levels": ["a"]}]}]}""".stripMargin
    val e = intercept[IllegalArgumentException](ModelJson.loadString(both))
    assert(e.getMessage.contains("Use only one"))
    // the validator reports the same conflict as a finding
    assert(ModelValidator.validateString(both).exists(i =>
      i.severity == "error" && i.message.contains("Use only one")))
    // and flags unknown levels referenced by the singular form
    val dangling =
      """{"dimensions": [{"name": "d", "levels": ["a"], "hierarchy": ["a", "zz"]}]}"""
    assert(ModelValidator.validateString(dangling).exists(i =>
      i.severity == "error" && i.message.contains("unknown level 'zz'")))
  }

  test("doc models load and validate clean (tutorial + hierarchy recipe + date dim)") {
    // a standalone date dimension file parses as a dimension object
    val dateDim = ModelJson.parseDimension(
      org.json4s.jackson.JsonMethods.parse(fixtureText("dim_date.json"))
        .asInstanceOf[org.json4s.JObject])
    assert(dateDim.levels.map(_.name) ==
      Seq("year", "quarter", "month", "day", "weekday"))
    assert(dateDim.allHierarchies.map(_.name) == Seq("ymd", "yqmd", "yw"))
    assert(dateDim.hierarchy(None).levelNames == Seq("year", "month", "day"))

    Seq("tutorial_model.json", "hierarchy_recipe_model.json").foreach { path =>
      val text = fixtureText(path)
      val cubes = ModelJson.loadString(text)
      assert(cubes.nonEmpty, path)
      val issues = ModelValidator.validateString(text)
      assert(!issues.exists(_.severity == "error"),
        s"$path: ${issues.filter(_.severity == "error").map(_.render).mkString("; ")}")
    }
    // the hierarchy recipe: one dimension, several drill paths
    val geo = ModelJson.loadString(fixtureText("hierarchy_recipe_model.json"))
      .head.dimension("geography")
    assert(geo.allHierarchies.map(_.name) == Seq("by_region", "by_continent"))
    assert(geo.hierarchy(Some("by_continent")).levelNames == Seq("continent", "country"))
  }

  test("hello_world model loads and validates clean") {
    // bare-column mappings (table defaults to the fact), an expression
    // measure, an expression aggregate, a flat time dimension
    val text = fixtureText("hello_world/model.json")
    val cubes = ModelJson.loadString(text)
    assert(cubes.map(_.name) == Seq("irbd_balance"))
    val c = cubes.head
    // bare "line_item" mapping resolved against the fact table
    assert(c.mappings("item.line_item") == PhysicalRef("irbd_balance", "line_item"))
    assert(c.dimension("item").levels.map(_.name) ==
      Seq("category", "subcategory", "line_item"))
    assert(c.measures.map(_.name) == Seq("amount", "double_amount"))
    assert(c.measures(1).expression.contains("amount * 2"))
    assert(c.aggregates.map(_.name) ==
      Seq("amount_sum", "double_amount_sum", "amount_range", "record_count"))
    assert(c.aggregates(2).expression.contains("max(amount) - min(amount)"))
    val issues = ModelValidator.validateString(text)
    assert(!issues.exists(_.severity == "error"),
      issues.filter(_.severity == "error").map(_.render).mkString("; "))
  }

  test("webshop bundle: broken member files are findings, valid parts still validate") {
    // the bundle holds two malformed JSON members (cube_webvisits.json,
    // dim_date_base.json) — validate must report BOTH and still reason
    // about the nine parsable files
    val sink = new StringBuilder
    val code = Slicer.validateModel(fixture("webshop.cubesmodel"),
      out = s => sink.append(s).append('\n'))
    val out = sink.toString
    assert(code == 1)
    assert(out.contains("cube_webvisits.json"))
    assert(out.contains("dim_date_base.json"))
    assert(out.contains("model can not be used"))
    // the parsable remainder was validated, not discarded — including the
    // CASCADE: date_sale/date_visit template the (malformed, skipped)
    // date_base, and the validator reports that dangling template rather
    // than silently losing the dimensions
    val (metadata, readIssues) = ModelBundle.readLenient(fixture("webshop.cubesmodel"))
    assert(readIssues.size == 2)
    val issues = ModelValidator.validate(metadata)
    Seq("date_sale", "date_visit").foreach { d =>
      assert(issues.exists(i => i.severity == "error" && i.obj.contains(d) &&
        i.message.contains("unknown dimension template 'date_base'")), d)
    }
    // the nine parsable members are all present in the assembled metadata
    import org.json4s._
    val dimNames = (metadata \ "dimensions") match {
      case JArray(ds) => ds.collect { case o: JObject =>
        o.obj.collectFirst { case ("name", JString(s)) => s } }.flatten
      case _ => Nil
    }
    assert(dimNames.toSet == Set("date_sale", "date_visit", "product",
      "customer", "country", "browser", "newsletter"))
    val cubeNames = (metadata \ "cubes") match {
      case JArray(cs) => cs.collect { case o: JObject =>
        o.obj.collectFirst { case ("name", JString(s)) => s } }.flatten
      case _ => Nil
    }
    assert(cubeNames == Seq("sales"))
  }

  test("lenient bundle read reports duplicate-name members instead of silently dropping them") {
    import org.json4s._
    val dir = java.nio.file.Files.createTempDirectory("graft_dup_bundle")
    def put(name: String, body: String): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), body)
    // c1 is declared inline in model.json AND again as a member file; d1
    // is declared by two member files — both duplicates are skipped by the
    // lenient assembly, and each skip must surface as a finding
    put("model.json",
      """{"cubes": [{"name": "c1", "dimensions": []}]}""")
    put("cube_c1.json", """{"name": "c1", "label": "shadowed"}""")
    put("dim_d1.json", """{"name": "d1", "levels": [{"name": "x", "attributes": ["x"]}]}""")
    put("dim_d1_again.json", """{"name": "d1", "label": "shadowed"}""")
    val (metadata, issues) = ModelBundle.readLenient(dir.toString)
    assert(issues.exists(i => i.message.contains("cube 'c1' defined multiple times")),
      issues.map(_.render).mkString("; "))
    assert(issues.exists(i => i.message.contains("dimension 'd1' defined multiple times")),
      issues.map(_.render).mkString("; "))
    // the assembled metadata kept exactly one copy of each
    val cubeNames = (metadata \ "cubes") match {
      case JArray(cs) => cs.collect { case o: JObject =>
        o.obj.collectFirst { case ("name", JString(s)) => s } }.flatten
      case _ => Nil
    }
    val dimNames = (metadata \ "dimensions") match {
      case JArray(ds) => ds.collect { case o: JObject =>
        o.obj.collectFirst { case ("name", JString(s)) => s } }.flatten
      case _ => Nil
    }
    assert(cubeNames == Seq("c1"))
    assert(dimNames == Seq("d1"))
  }

  test("ext-info lists the live extension registries") {
    val all = Slicer.extInfo(None)
    assert(all.contains("aggregate_function"))
    assert(all.contains("approx_count_distinct")) // live registry, not a static list
    assert(all.contains("window_calculator") && all.contains("wma"))
    val one = Slicer.extInfo(Some("format"))
    assert(one.contains("xlsx") && !one.contains("aggregate_function"))
    assertThrows[IllegalArgumentException](Slicer.extInfo(Some("nope")))
  }

  test("model convert: json → bundle → read-back concatenates dims and cubes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bundle")
    val src = dir.resolve("model.json")
    java.nio.file.Files.write(src, json.getBytes("UTF-8"))
    val bundleDir = dir.resolve("model.cubesmodel").toString
    Slicer.convertModel(src.toString, Some(bundleDir), "bundle", force = false)
    // bundle layout: model.json + dim_*.json + cube_*.json
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(bundleDir))
      .iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(files)
      .asScala.map(_.getFileName.toString).toSet
    assert(names.contains("model.json"))
    assert(names.contains("dim_date.json"))
    assert(names.contains("cube_sales.json"))
    // read-back reassembles the same model: parsed cubes match the direct load
    val readBack = ModelBundle.read(bundleDir)
    val direct = ModelJson.loadString(json)
    val viaBundle = ModelJson.loadString(ModelBundle.renderJson(readBack))
    assert(viaBundle == direct)
    // validator accepts the bundle form too
    assert(!ModelValidator.validate(readBack).exists(_.severity == "error"))
    // refuses to clobber without --force; replaces with it
    assertThrows[IllegalArgumentException] {
      Slicer.convertModel(src.toString, Some(bundleDir), "bundle", force = false)
    }
    Slicer.convertModel(src.toString, Some(bundleDir), "bundle", force = true)
  }
}

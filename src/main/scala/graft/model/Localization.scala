package graft.model

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Model-metadata localization (reference `metadata/localization.py` +
  * `localized()` in `metadata/base.py:63-83`, applied per-locale by
  * `workspace.cube(..., locale=...)`, `workspace.py:540-546`).
  *
  * Translation JSON shape (reference `tests/models/translation.json`):
  * {{{
  * {"cubes": {"<cube>": {"label": …, "description": …,
  *              "measures": {"<m>": "<label>" | {"label": …}},
  *              "aggregates": {…}, "dimensions": {…}}},
  *  "dimensions": {"<dim>": {"label": …, "levels": {"<lvl>": …},
  *                  "attributes": {…}}},
  *  "measures": {…}}   // global sections are the fallback context
  * }}}
  * A bare string anywhere stands for `{"label": <string>}`. Cube-local
  * translations win over the global sections (reference
  * `ModelObjectLocalizationContext.get`).
  *
  * This localizes model METADATA (labels); localized data *columns* are
  * the browser's `locale` parameter (`col_<locale>` physical columns) —
  * two independent reference mechanisms, both supported.
  */
object Localization {

  /** Per-locale translation registry. */
  final class Translations private (byLocale: Map[String, JValue]) {
    def localize(cube: Cube, locale: String): Cube =
      byLocale.get(locale).map(t => Localization.localizeCube(cube, t))
        .getOrElse(cube)
  }
  object Translations {
    def fromJson(byLocaleJson: Map[String, String]): Translations =
      new Translations(byLocaleJson.map { case (l, j) =>
        l -> JsonMethods.parse(j)
      })
  }

  private def norm(v: JValue): JValue = v match {
    case JString(s) => JObject(List("label" -> JString(s)))
    case o          => o
  }

  private def labelOf(v: JValue, cur: Option[String]): Option[String] =
    (norm(v) \ "label") match {
      case JString(s) => Some(s)
      case _          => cur
    }

  def localizeCube(cube: Cube, root: JValue): Cube = {
    val cubeTrans = norm(root \ "cubes" \ cube.name)

    // cube-local section first, global section as fallback context
    def objTrans(section: String, name: String): JValue = {
      val local = (cubeTrans \ section \ name)
      if (local != JNothing) norm(local)
      else norm(root \ section \ name)
    }

    def localizeDim(d: Dimension): Dimension = {
      val dt = objTrans("dimensions", d.name)
      d.copy(
        label = labelOf(dt, d.label),
        levels = d.levels.map { l =>
          val lt = norm(dt \ "levels" \ l.name)
          l.copy(
            label = labelOf(lt, l.label),
            attributes = l.attributes.map { a =>
              val at = norm(dt \ "attributes" \ a.name)
              a.copy(label = labelOf(at, a.label))
            })
        })
    }

    cube.copy(
      label = labelOf(cubeTrans, cube.label),
      measures = cube.measures.map(m =>
        m.copy(label = labelOf(objTrans("measures", m.name), m.label))),
      aggregates = cube.aggregates.map(a =>
        a.copy(label = labelOf(objTrans("aggregates", a.name), a.label))),
      dimensions = cube.dimensions.map(localizeDim))
  }
}

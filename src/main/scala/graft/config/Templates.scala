package graft.config

import scala.collection.concurrent.TrieMap

/** `${KIND:name}` template resolution over config values
  * (api_ingestion/handler.py:39-81; used at sample_source.yaml:16,61,65).
  *
  * Kinds: `ENV` (environment variable), `SECRET` (secret store lookup),
  * `BUCKET` (bucket registry). Resolution is recursive over nested
  * structures and cached per resolver instance, mirroring the
  * reference's secret cache.
  */
final class TemplateResolver(
    secrets: String => Option[String] = _ => None,
    buckets: String => Option[String] = _ => None,
    env: String => Option[String] = sys.env.get) {

  private val cache = TrieMap.empty[String, String]
  private val Pattern = """\$\{([A-Z]+):([^}]+)\}""".r

  def resolve(value: String): String =
    Pattern.replaceAllIn(value, m => {
      val (kind, name) = (m.group(1), m.group(2))
      val resolved = cache.getOrElseUpdate(s"$kind:$name", kind match {
        case "ENV"    => env(name).getOrElse(fail(kind, name))
        case "SECRET" => secrets(name).getOrElse(fail(kind, name))
        case "BUCKET" => buckets(name).getOrElse(fail(kind, name))
        case other    => throw new IllegalArgumentException(s"Unknown template kind: $other")
      })
      scala.util.matching.Regex.quoteReplacement(resolved)
    })

  private def fail(kind: String, name: String): Nothing =
    throw new NoSuchElementException(s"Unresolvable template $${$kind:$name}")
}

object TemplateResolver {
  /** Resolver with everything supplied from plain maps (hermetic tests). */
  def fromMaps(
      secrets: Map[String, String] = Map.empty,
      buckets: Map[String, String] = Map.empty,
      env: Map[String, String] = sys.env): TemplateResolver =
    new TemplateResolver(secrets.get, buckets.get, env.get)
}

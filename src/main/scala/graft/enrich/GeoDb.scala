package graft.enrich

import java.nio.file.{Files, Paths}

/** Geo database selection (ipHandle/db/db.go:29-93): the reference picks
  * DB files via `NALI_DB_IP4` / `NALI_DB_IP6` (qqwry / zxipv6wry /
  * GeoIP2 mmdb / ipip.net ipdb) with `NALI_LANG` steering language-aware
  * formats. All four formats convert offline into the same sorted
  * [[IpRange]] table, which ships as one broadcast [[GeoTable]] that
  * [[IpRangeLookup]] binary-searches, so per-row probe cost is
  * format-independent.
  *
  * The env var holds a file path; the format is sniffed from content
  * (mmdb metadata marker / ipdb JSON header / qqwry-zx fallback), so the
  * reference's name aliases ("geoip2" → GeoLite2-City.mmdb etc.,
  * db.go:83-93) work by pointing the var at the file itself.
  */
object GeoDb {

  type Converter = Array[Byte] => Seq[IpRange]

  /** Registered format converters, probed in order. */
  val converters: Seq[(String, Converter)] = Seq(
    "mmdb" -> (d => MmdbConverter.readAll(d)),
    "ipdb" -> (d => IpdbConverter.readAll(d)),
    "qqwry" -> QqwryConverter.readAll,
    "zxipv6wry" -> Zxipv6Converter.readAll)

  /** IPv4 table: mmdb / ipdb by content, else qqwry (the reference's
    * zh-CN default, db.go:56-61). */
  def convertV4(data: Array[Byte], lang: String): Seq[IpRange] =
    if (MmdbConverter.isMmdb(data)) MmdbConverter.readAll(data, lang)
    else if (IpdbConverter.isIpdb(data)) IpdbConverter.readAll(data)
    else QqwryConverter.readAll(data)

  /** IPv6 table (top-64-bit keys): mmdb by content, else zxipv6wry. */
  def convertV6(data: Array[Byte], lang: String): Seq[IpRange] =
    if (MmdbConverter.isMmdb(data)) MmdbConverter.readAllV6(data, lang)
    else Zxipv6Converter.readAll(data)

  private def lang(env: Map[String, String]): String =
    env.getOrElse("NALI_LANG", "zh-CN")

  def loadIpv4(env: Map[String, String] = sys.env): Option[Seq[IpRange]] =
    env.get("NALI_DB_IP4")
      .map(p => convertV4(Files.readAllBytes(Paths.get(p)), lang(env)))

  def loadIpv6(env: Map[String, String] = sys.env): Option[Seq[IpRange]] =
    env.get("NALI_DB_IP6")
      .map(p => convertV6(Files.readAllBytes(Paths.get(p)), lang(env)))
}

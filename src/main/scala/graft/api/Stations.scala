package graft.api

// Station-metadata plumbing from the reference's gpstools
// (gpstools.py:84-201, 520, 870): base-station coordinates, station
// naming from file conventions, component-letter labels, and the small
// duration helpers the velocity plumbing uses. Pure driver-side
// metadata — none of this touches data-plane DataFrames.

/** gpstools.py:84 `BaseStn` — static base-station info for reference
  * position determination.
  *
  * @param sitePos Cartesian (X, Y, Z) in meters (GAMIT/GLOBK site_pos)
  * @param geodPos (geodetic co-latitude, longitude, ellipsoidal height);
  *        longitudes > 180° normalize to the -180..180 convention like
  *        the reference (gpstools.py:129)
  */
final case class BaseStn(name: String,
                         sitePos: (Double, Double, Double),
                         geodPos: (Double, Double, Double)) {
  val (x, y, z) = sitePos
  val lat: Double = geodPos._1
  val long: Double =
    if (geodPos._2 > 180) -(360 - geodPos._2) else geodPos._2
  val ellipsoidalHeight: Double = geodPos._3
  val upperName: String = name.toUpperCase

  /** Geoid height looked up from a model table keyed by station code
    * (gpstools.py:142 `geoid_height` — the reference's commented-out
    * EGM2008/EGM96 dictionaries, passed in rather than hard-coded).
    */
  def geoidHeight(model: Map[String, Double]): Option[Double] =
    model.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

  /** Orthometric elevation (gpstools.py:146): ellipsoidal height minus
    * the geoid height.
    */
  def elevation(geoidHeight: Double): Double =
    ellipsoidalHeight - geoidHeight
}

object Stations {

  /** gpstools.py:73 `_directions` — component letter to column name. */
  val directions: Seq[(Char, String)] = Seq(
    'n' -> "dnorth", 'e' -> "deast", 'u' -> "dheight",
    'x' -> "xflow", 't' -> "xtran")

  /** gpstools.py:848 `get_labels`: expand a component string like "ne"
    * or "xt" into column names; unknown letters raise, matching the
    * reference's no-exceptions-note behavior.
    */
  def componentLabels(component: String): Seq[String] =
    component.map { c =>
      directions.collectFirst { case (`c`, name) => name }.getOrElse(
        throw new IllegalArgumentException(s"unknown component letter '$c'"))
    }

  /** gpstools.py:184 `get_station_name`: the station ID is the first 4
    * characters of the file name, uppercased; the location name comes
    * from the deployment's receiver-to-location table (station_names),
    * 'ukwn' when unmapped (OnIce docstring, gpstools.py:221-223).
    */
  def stationName(gpsDataPath: String,
                  stationNames: Map[String, String] = Map.empty): (String, String) = {
    val id = new java.io.File(gpsDataPath).getName.take(4).toUpperCase
    (id, stationNames.collectFirst {
      case (k, v) if k.equalsIgnoreCase(id) => v
    }.getOrElse(if (stationNames.isEmpty) id else "ukwn"))
  }

  /** gpstools.py:520 `samples_in_timespan`: how many measurements fit
    * in a duration at a given sampling rate (seconds per sample).
    */
  def samplesInTimespan(timespan: String, samplingRateSeconds: Double): Long =
    math.round(Durations.parseSeconds(timespan) / samplingRateSeconds)

  /** gpstools.py:870 `pct_day`: the fraction of a day a duration
    * covers. pandas `.seconds` is the within-day component, so a 25 h
    * duration is 1/24, not 25/24 — kept bug-for-bug.
    */
  def pctDay(duration: String): Double =
    (Durations.parseSeconds(duration) % 86400L) / 86400.0
}

package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}

/** K1 of SURVEY.md §2b: the hourly JSON landing blob — CF#1 serializes
  * the cleaned record to a file and uploads it to the landing bucket
  * (/root/reference/Load-Data-From-API/main.py:145-152,181-190), which
  * is what triggers the load path.
  *
  * The reference writes ONE tiny blob per fetch (a single cleaned row),
  * so this is deliberately a driver-side write of a driver-sized batch —
  * there is nothing to distribute. Bulk data lands through
  * [[graft.streaming.Ingest]]'s drain, which reads every blob new since
  * its last call as one batch, no matter which producer wrote it.
  *
  * File name mirrors the reference pattern
  * `hourly-weather-data-json-<yyyymmdd>-<time>.json` (main.py:184) with
  * a colon-free time part — Hadoop `Path` rejects `:` in file names, so
  * the engine's contract is `yyyyMMdd-HHmmss`.
  */
object Landing {
  private val fmt =
    DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss").withZone(ZoneOffset.UTC)

  def blobName(utcMillis: Long): String =
    s"hourly-weather-data-json-${fmt.format(Instant.ofEpochMilli(utcMillis))}.json"

  /** Serialize a (small) cleaned batch as one NDJSON landing blob;
    * returns the file written. Each line is `to_json(struct(*))` of a
    * row, the same bytes `toJSON` writes, and it preserves the nested
    * structure exactly as `spark.read.schema(raw).json` re-reads it.
    * Over a frame built by [[graft.sources.WeatherApi.fetchFrame]] the
    * serialization folds into a local relation, so the collect runs no
    * Spark job.
    *
    * The blob is written to a hidden `.`-prefixed temp file in the
    * landing dir, which a drain's listing skips, and renamed to its name
    * once complete: the blob is visible once finalized, never half
    * written.
    */
  def land(cleaned: DataFrame, landingDir: String, utcMillis: Long): Path = {
    val lines = cleaned.select(to_json(struct(col("*"))))
      .collect().map(_.getString(0)) // one row per fetch — driver-sized
    val dir = Paths.get(landingDir)
    Files.createDirectories(dir)
    val name = blobName(utcMillis)
    val tmp = dir.resolve(s".$name.tmp")
    try {
      Files.write(tmp, String.join("\n", lines: _*).getBytes("UTF-8"))
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }
}

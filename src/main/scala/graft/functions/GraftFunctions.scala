package graft.functions

import graft.xlsx.{A1, CellValue, ExcelDate, PasswordHash, Xml}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** The reference's cell-level conversion library (SURVEY §2.4 F1-F11) as
  * registered Spark SQL functions. All are pure, null-tolerant scalar
  * functions; on a cluster they run inside whole-stage-codegen'd plans as
  * deterministic UDF calls (no state, no shuffle implications).
  *
  * Registered once per SparkSession under the `graft_` prefix:
  * {{{
  *   GraftFunctions.register(spark)
  *   spark.sql("SELECT graft_excel_date_decode(44562.5)")  // 2022-01-01 12:00:00
  * }}}
  */
object GraftFunctions {

  /** Idempotent per-session registration: spark.udf.register simply
    * overwrites an existing name, so re-registering is safe and needs no
    * guard (a previous identity-hash-keyed guard could silently SKIP a
    * session on hash collision, and leaked one key per session). */
  def register(spark: SparkSession): Unit = {
      val udf = spark.udf

      // F1: Excel serial -> "yyyy-mm-dd[ hh:mm:ss]" (1900-bug semantics,
      // ref: src/streaming_reader.rs:37-127). Invalid serial -> null.
      udf.register("graft_excel_date_decode",
        (serial: java.lang.Double) =>
          if (serial == null) null else ExcelDate.format(serial).orNull)

      // F1 variant: serial -> DATE (time truncated).
      udf.register("graft_excel_serial_to_date",
        (serial: java.lang.Double) =>
          if (serial == null) null
          else ExcelDate.toDate(serial).map(java.sql.Date.valueOf).orNull)

      // F1 variant: serial -> TIMESTAMP. The serial is read as a UTC wall
      // clock, the xlsx sink's rule (ExcelDate.toEpochMicros), whatever the
      // JVM or session zone; a non-UTC session shows it moved by its offset.
      udf.register("graft_excel_serial_to_ts",
        (serial: java.lang.Double) =>
          if (serial == null) null
          else ExcelDate.toEpochMicros(serial).map(DateTimeUtils.microsToInstant).orNull)

      // F2: DATE -> integral serial (ref: zero_temp_workbook.rs:203-207).
      udf.register("graft_excel_date_encode",
        (d: java.sql.Date) =>
          if (d == null) null else java.lang.Long.valueOf(ExcelDate.fromDate(d.toLocalDate)))

      // F2 variant: TIMESTAMP -> fractional serial of its UTC wall clock,
      // the serial the xlsx sink writes (ExcelDate.fromEpochMicros).
      udf.register("graft_excel_ts_encode",
        (t: java.time.Instant) =>
          if (t == null) null
          else java.lang.Double.valueOf(ExcelDate.fromEpochMicros(DateTimeUtils.instantToMicros(t))))

      // F3: Gregorian leap-year rule (ref: src/streaming_reader.rs:129-131).
      udf.register("graft_is_leap_year",
        (y: java.lang.Integer) =>
          if (y == null) null else java.lang.Boolean.valueOf(ExcelDate.isLeapYear(y)))

      // F4: 0-based column index -> A..Z,AA.. (ref: src/types.rs:214-225).
      udf.register("graft_col_letter",
        (n: java.lang.Integer) => if (n == null || n < 0) null else A1.colToLetter(n))

      // F5: A1 letters -> 0-based column index (ref: src/streaming_reader.rs:728-738).
      udf.register("graft_col_index",
        (s: String) => if (s == null) null else java.lang.Integer.valueOf(A1.parseColumnIndex(s)))

      // F6: (0-based row, col) -> "A1" (ref: src/types.rs:209-211).
      udf.register("graft_cell_ref",
        (r: java.lang.Integer, c: java.lang.Integer) =>
          if (r == null || c == null) null else A1.cellRef(r, c))

      // F7: XML escape / entity decode (ref: xml_writer.rs:100-124).
      udf.register("graft_xml_escape", (s: String) => if (s == null) null else Xml.escape(s))
      udf.register("graft_xml_unescape", (s: String) => if (s == null) null else Xml.decode(s))

      // F9: lenient bool coercion: true|yes|1 / false|no|0 (ref: src/types.rs:141-152).
      udf.register("graft_as_bool",
        (s: String) =>
          if (s == null) null
          else CellValue.Str(s).asBool.map(java.lang.Boolean.valueOf).orNull)

      // F11: Excel legacy sheet-protection hash (ref: src/types.rs:391-400).
      udf.register("graft_password_hash",
        (s: String) => if (s == null) null else PasswordHash.hash(s))

      // Beyond-reference: 64-bit FNV-1a rolling document fingerprint
      // (stable across JVMs; used by doc_fingerprint alongside md5).
      udf.register("graft_fingerprint64",
        (s: String) => if (s == null) null else java.lang.Long.valueOf(fnv1a64(s)))

      // Beyond-reference: PII masking (email -> IPv4 -> phone cascade,
      // same patterns/order as graft.operators.Privacy.redact).
      udf.register("graft_redact_pii",
        (s: String) =>
          if (s == null) null
          else s.replaceAll(graft.operators.Privacy.EmailPattern, "<EMAIL>")
            .replaceAll(graft.operators.Privacy.Ipv4Pattern, "<IP>")
            .replaceAll(graft.operators.Privacy.PhonePattern, "<PHONE>"))

  }

  /** FNV-1a 64-bit over UTF-8 bytes — deterministic rolling hash. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}

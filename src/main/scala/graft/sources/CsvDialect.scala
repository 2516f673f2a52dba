package graft.sources

/** How decimal text is normalized when a destination column is double/float.
  *
  * Mirrors the reference's three-way decimal-separator setting
  * (reference: src/CSVProvider.cs:470-475, options at :721-727 and
  * src/CSVSourceReader.cs:226-241):
  *   - [[DecimalMode.Detect]]  — auto-detect: try the text as-is, else with
  *     `,`/`.` swapped (reference `Converter.ToDouble`,
  *     src/CSVSourceReader.cs:231-234).
  *   - [[DecimalMode.Comma]]   — the source uses `,` as decimal separator;
  *     replace with `.` before cast (src/CSVSourceReader.cs:235-238).
  *   - [[DecimalMode.Dot]]     — the source uses `.`; cast directly.
  *   - [[DecimalMode.None]]    — "Use system culture" = no conversion
  *     (we pin the engine culture to invariant, so this is a plain cast).
  */
sealed trait DecimalMode
object DecimalMode {
  case object Detect extends DecimalMode
  case object Comma  extends DecimalMode
  case object Dot    extends DecimalMode
  case object None   extends DecimalMode
}

/** Defective-row policy (reference IgnoreDefectiveRows,
  * src/CSVSourceReader.cs:53-56, 168-211): skip-and-log vs fail the job.
  */
sealed trait MalformedMode { def sparkMode: String }
object MalformedMode {
  /** Reference `IgnoreDefectiveRows = true`: bad rows are skipped. */
  case object Drop extends MalformedMode { val sparkMode = "DROPMALFORMED" }
  /** Reference default: a bad row aborts the run with file/line context. */
  case object Fail extends MalformedMode { val sparkMode = "FAILFAST" }
}

/** CSV dialect — every knob the reference exposes, as one immutable value.
  *
  * Defaults match the reference's defaults: `;` delimiter and `"` quote
  * (reference src/CSVProvider.cs:34-35), header row present, unquoted
  * `NULL` as the null sentinel both directions (src/CSVSourceReader.cs:221-224,
  * src/CSVDestinationWriter.cs:129-132), UTF-8 (src/CSVProvider.cs:603-616).
  *
  * The data-read path trims all fields (TrimOptions.Trim,
  * src/CSVSourceReader.cs:48) while the schema-inference read does not
  * (src/CSVProvider.cs:172) — [[readOptions]] vs [[CsvCatalog]]'s
  * driver-side header read, which performs the untrimmed schema pass.
  * Quote-escaping is RFC-4180 `""` doubling (escape char == quote char,
  * src/CSVSourceReader.cs:49-51).
  */
final case class CsvDialect(
    delimiter: String = ";",
    quote: String = "\"",
    hasHeader: Boolean = true,
    nullSentinel: String = "NULL",
    encoding: String = "UTF-8",
    malformed: MalformedMode = MalformedMode.Fail,
    decimalMode: DecimalMode = DecimalMode.None,
) {
  require(delimiter.length == 1, s"delimiter must be one char: '$delimiter'")
  require(quote.length == 1, s"quote must be one char: '$quote'")

  /** Options for the data-read path (trimmed fields, `""` escaping). */
  def readOptions: Map[String, String] = Map(
    "sep"                       -> delimiter,
    "quote"                     -> quote,
    "escape"                    -> quote, // RFC-4180 "" doubling
    "header"                    -> hasHeader.toString,
    "nullValue"                 -> nullSentinel,
    "encoding"                  -> encoding,
    "mode"                      -> malformed.sparkMode,
    "ignoreLeadingWhiteSpace"   -> "true",
    "ignoreTrailingWhiteSpace"  -> "true",
    "inferSchema"               -> "false",
    // Spark's pruned CSV scan judges a row only by the columns the query
    // reads, so a subset read would keep defective rows under Drop and
    // not throw under Fail; parse every column so the mode sees them all
    "columnPruning"             -> "false",
  )

  /** Options for the write path. Reference quotes every non-NULL value
    * (src/CSVDestinationWriter.cs:86-143) → quoteAll; header per config
    * (:82-85, 146-152). We emit properly escaped quotes — documented
    * deviation from the reference's malformed output (SURVEY.md §2.4.1).
    * Under these options Spark writes NULL as the QUOTED sentinel
    * ("NULL" — quoteAll covers the substituted nullValue string too;
    * probe-verified r18, spec-pinned in CsvWriteSpec); the reference's
    * bare-NULL byte shape is the single-file fidelity path's job
    * ([[CsvWrite.writeSingleFile]] via referenceRecords).
    */
  def writeOptions: Map[String, String] = Map(
    "sep"        -> delimiter,
    "quote"      -> quote,
    "escape"     -> quote,
    "header"     -> hasHeader.toString,
    "nullValue"  -> nullSentinel,
    "encoding"   -> encoding,
    "quoteAll"   -> "true",
    "emptyValue" -> "",
  )
}

package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

/** Seeded, single-process generator of the CSV folder that `csv_import`
  * reads. It shares no code with the program: the program
  * only ever sees the files.
  *
  * Dialect: `;` delimiter, `"` quote, header row, UTF-8. Each file is one
  * lineitem-like table with unquoted numerics, comma decimals, an unquoted
  * `NULL` sentinel in `shipmode`, unparseable dates in `shipdate` and a
  * quoted `comment` that sometimes carries the delimiter and doubled
  * quotes. A few rows per file are defective, in turn: too few fields,
  * an unclosed quote, extra fields (the first two are the reference's
  * kinds). Each defective row carries the import mapping's flag and a
  * quantity above its threshold, so a defective row that is not dropped
  * shows in the mapping's output.
  *
  * Besides the files it writes `manifest.json` with the values every
  * benchmark mapping must reproduce, computed here from the generated rows
  * (the generator is the oracle for the ETL workloads).
  */
object CsvGen {
  val Header = Seq("orderkey", "partkey", "suppkey", "linenumber", "quantity",
    "extendedprice", "discount", "tax", "returnflag", "linestatus",
    "shipdate", "shipmode", "comment")
  val Flags = Array("A", "N", "R")
  val Modes = Array("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
  val Words = Array("carefully", "final", "deposits", "sleep", "quickly",
    "ironic", "packages", "haggle", "furiously", "regular", "accounts",
    "nag", "blithely", "express", "requests", "pending", "theodolites")
  /** Rows of each file whose quantity exceeds this pass the import filter. */
  val ImportMinQuantity = 40
  /** Every DefectEvery-th data line of a file is a defective row. */
  val DefectEvery = 4999
  /** File f holds orderkeys f * KeyStride + line index. */
  val KeyStride = 10000000L

  /** The flag the import mapping of file `i` keeps. */
  def importFlag(i: Int): String = Flags(i % Flags.length)

  final class Agg {
    var rows = 0L; var sumOrderkey = 0L; var sumPartkey = 0L; var sumQuantity = 0L
    var sumPriceCents = 0L; var sumDiscount = 0L; var nullShipmode = 0L; var badDates = 0L
    var sumCommentLen = 0L
    def add(orderkey: Long, partkey: Int, quantity: Int, cents: Long, discount: Int,
            shipmodeNull: Boolean, badDate: Boolean, commentLen: Int): Unit = {
      rows += 1; sumOrderkey += orderkey; sumPartkey += partkey; sumQuantity += quantity
      sumPriceCents += cents; sumDiscount += discount; if (shipmodeNull) nullShipmode += 1
      if (badDate) badDates += 1; sumCommentLen += commentLen
    }
    def json: String =
      s"""{"rows":$rows,"sum_orderkey":$sumOrderkey,"sum_partkey":$sumPartkey,""" +
        s""""sum_quantity":$sumQuantity,"sum_price_cents":$sumPriceCents,""" +
        s""""sum_discount_cents":$sumDiscount,"null_shipmode":$nullShipmode,""" +
        s""""bad_dates":$badDates,"sum_comment_len":$sumCommentLen}"""
  }

  private def comment(r: SplittableRandom): String = {
    val n = 3 + r.nextInt(6)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Words(r.nextInt(Words.length)))
      i += 1
    }
    r.nextInt(20) match {
      case 0 => sb.append("; see \"note\"")
      case 1 => sb.append(";x;y")
      case _ =>
    }
    sb.toString
  }

  private def two(v: Int): String = if (v < 10) "0" + v else v.toString

  /** Write `files` tables of `rows` data rows each into `dir`. */
  def generate(seed: Long, dir: Path, files: Int, rows: Int): Unit = {
    Files.createDirectories(dir)
    val tables = (0 until files).map { f =>
      val name = s"lineitem_$f"
      val r = new SplittableRandom(seed * 1000003L + f)
      val all = new Agg
      val imported = new Agg
      var defective = 0
      val out = new BufferedWriter(new OutputStreamWriter(
        Files.newOutputStream(dir.resolve(s"$name.csv")), StandardCharsets.UTF_8), 1 << 16)
      try {
        out.write(Header.mkString(";")); out.write('\n')
        var i = 0
        while (i < rows) {
          val orderkey = f.toLong * KeyStride + i
          val partkey = r.nextInt(20000)
          val suppkey = r.nextInt(1000)
          val linenumber = 1 + r.nextInt(7)
          val defect = i % DefectEvery == DefectEvery - 1
          val quantity =
            if (defect) ImportMinQuantity + 1 + r.nextInt(50 - ImportMinQuantity) else 1 + r.nextInt(50)
          val cents = 90000L + r.nextInt(10000000)
          val discount = r.nextInt(11)
          val tax = r.nextInt(9)
          val flag = if (defect) importFlag(f) else Flags(r.nextInt(3))
          val status = if (r.nextBoolean()) "O" else "F"
          val badDate = r.nextInt(100) == 0
          val shipdate =
            if (badDate) s"${two(1 + r.nextInt(28))}-${two(1 + r.nextInt(12))}-199${r.nextInt(10)}"
            else s"199${r.nextInt(10)}-${two(1 + r.nextInt(12))}-${two(1 + r.nextInt(28))} 00:00:00"
          val modeNull = r.nextInt(50) == 0
          val mode = if (modeNull) "NULL" else Modes(r.nextInt(Modes.length))
          val text = comment(r)
          val line = new StringBuilder(160)
          line.append(orderkey).append(';').append(partkey).append(';')
            .append(suppkey).append(';').append(linenumber).append(';')
            .append(quantity).append(';')
            .append(cents / 100).append(',').append(two((cents % 100).toInt)).append(';')
            .append("0,").append(two(discount)).append(';')
            .append("0,").append(two(tax)).append(';')
            .append(flag).append(';').append(status)
          if (defect) {
            // a defective row carries no data; the kinds take turns
            (i / DefectEvery) % 3 match {
              case 0 => // too few fields: shipdate, shipmode and comment missing
              case 1 => // an unclosed quote: shipmode runs to the end of the line
                line.append(';').append(shipdate).append(";\"").append(mode).append(';')
                  .append(text.replace("\"", ""))
              case _ => // two fields too many
                line.append(';').append(shipdate).append(';').append(mode).append(';')
                  .append('"').append(text.replace("\"", "\"\"")).append('"')
                  .append(";extra;fields")
            }
            defective += 1
          } else {
            line.append(';').append(shipdate).append(';').append(mode).append(';')
              .append('"').append(text.replace("\"", "\"\"")).append('"')
            all.add(orderkey, partkey, quantity, cents, discount, modeNull, badDate, text.length)
            if (flag == importFlag(f) && quantity > ImportMinQuantity)
              imported.add(orderkey, partkey, quantity, cents, discount, modeNull, badDate, text.length)
          }
          out.append(line); out.write('\n')
          i += 1
        }
      } finally out.close()
      s""""$name":{"lines":$rows,"defective":$defective,""" +
        s""""import_flag":"${importFlag(f)}",""" +
        s""""all":${all.json},"imported":${imported.json}}"""
    }
    Files.writeString(dir.resolve("manifest.json"),
      s"""{"seed":$seed,"files":$files,"rows_per_file":$rows,"key_stride":$KeyStride,""" +
        s""""defect_every":$DefectEvery,""" +
        s""""import_min_quantity":$ImportMinQuantity,"tables":{${tables.mkString(",")}}}""" + "\n")
  }

  /** `CsvGen <seed> <dir> <files> <rowsPerFile>` */
  def main(args: Array[String]): Unit =
    generate(args(0).toLong, Paths.get(args(1)), args(2).toInt, args(3).toInt)
}

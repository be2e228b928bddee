package perfbench

import java.time.LocalDate

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** Seeded generator of the TPC-H-shaped tables the report queries and the
  * graph operators read (`graft.Tables`): region, nation, customer,
  * supplier, part, orders and lineitem, one parquet file each.
  *
  * Columns, types and value ranges follow the testdata in TESTDATA.md,
  * which the program is developed against: uniform keys (a lineitem's
  * order, part and supplier are independent draws), flags and priorities
  * uniform over their domains, dates uniform over 1995-2001. Row counts
  * scale with `sf` as in TPC-H. Every value is a hash of (seed, column,
  * row id).
  *
  * The files are written with parquet's own writer rather than by Spark, so
  * generating inputs runs no Spark job and leaves Spark cold for the timed
  * statements.
  */
object StarInputs {

  private val Adjectives = Seq("large", "hot", "blue", "old", "cold", "small", "red", "shiny")
  private val Nouns = Seq("ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private def micros(day: LocalDate): Long = day.toEpochDay * 86400L * 1000000L

  /** Writes the tables under `dir`; returns the number of rows written. */
  def write(dir: String, sf: Double, seed: Long): Long = {
    val nOrders = (1500000 * sf).toLong
    val nLines = (6000000 * sf).toLong
    val nCust = (150000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    def draw(salt: Int, id: Long, m: Long): Long = java.lang.Math.floorMod(Splitmix.mix(seed, salt, id), m)
    def oneOf(salt: Int, id: Long, xs: Seq[String]): String = xs(draw(salt, id, xs.size).toInt)
    def cents(salt: Int, id: Long, lo: Long, span: Long): Double = (lo + draw(salt, id, span)) / 100.0
    def day(salt: Int, id: Long, from: LocalDate, days: Int): Long =
      micros(from.plusDays(draw(salt, id, days)))

    val conf = new Configuration()
    def table(name: String, fields: String, n: Long)(fill: (Group, Long) => Unit): Unit = {
      val schema = MessageTypeParser.parseMessageType(s"message $name { $fields }")
      val groups = new SimpleGroupFactory(schema)
      val w = ExampleParquetWriter.builder(new HPath(s"$dir/$name.parquet"))
        .withType(schema).withConf(conf)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
      try (0L until n).foreach { id =>
        val g = groups.newGroup()
        fill(g, id)
        w.write(g)
      } finally w.close()
    }
    def str(name: String) = s"required binary $name (STRING);"

    table("region", "required int32 r_regionkey; " + str("r_name"), 5) { (g, id) =>
      g.append("r_regionkey", id.toInt).append("r_name", Regions(id.toInt))
    }
    table("nation", "required int32 n_nationkey; " + str("n_name") +
        " required int32 n_regionkey;", 25) { (g, id) =>
      g.append("n_nationkey", id.toInt).append("n_name", s"NATION_$id")
        .append("n_regionkey", (id % 5).toInt)
    }
    table("customer", "required int64 c_custkey; " + str("c_name") +
        " required int32 c_nationkey; required double c_acctbal; " +
        str("c_mktsegment"), nCust) { (g, id) =>
      g.append("c_custkey", id).append("c_name", f"Customer#$id%09d")
        .append("c_nationkey", draw(1, id, 25).toInt)
        .append("c_acctbal", cents(2, id, -99999, 1099999))
        .append("c_mktsegment", oneOf(3, id, Segments))
    }
    table("supplier", "required int64 s_suppkey; " + str("s_name") +
        " required int32 s_nationkey; required double s_acctbal;", nSupp) { (g, id) =>
      g.append("s_suppkey", id).append("s_name", f"Supplier#$id%09d")
        .append("s_nationkey", draw(4, id, 25).toInt)
        .append("s_acctbal", cents(5, id, -99999, 1099999))
    }
    table("part", "required int64 p_partkey; " + str("p_name") + " " + str("p_brand") +
        " " + str("p_type") + " required int32 p_size; required double p_retailprice;",
        nPart) { (g, id) =>
      g.append("p_partkey", id)
        .append("p_name", s"${oneOf(6, id, Adjectives)} ${oneOf(7, id, Nouns)}")
        .append("p_brand", s"Brand#${draw(8, id, 25) + 1}")
        .append("p_type", oneOf(9, id, Types))
        .append("p_size", (draw(10, id, 50) + 1).toInt)
        .append("p_retailprice", (90000 + id % 1000 * 10) / 100.0)
    }
    table("orders", "required int64 o_orderkey; required int64 o_custkey; " +
        str("o_orderstatus") + " required double o_totalprice;" +
        " required int64 o_orderdate (TIMESTAMP(MICROS,true)); " +
        str("o_orderpriority"), nOrders) { (g, id) =>
      g.append("o_orderkey", id).append("o_custkey", draw(11, id, nCust))
        .append("o_orderstatus", oneOf(12, id, Seq("F", "O", "P")))
        .append("o_totalprice", cents(13, id, 100000, 49900000))
        .append("o_orderdate", day(14, id, LocalDate.of(1995, 1, 1), 2404))
        .append("o_orderpriority", oneOf(15, id, Priorities))
    }
    table("lineitem", "required int64 l_orderkey; required int64 l_partkey; " +
        "required int64 l_suppkey; required int32 l_linenumber; " +
        "required double l_quantity; required double l_extendedprice; " +
        "required double l_discount; required double l_tax; " +
        str("l_returnflag") + " " + str("l_linestatus") +
        " required int64 l_shipdate (TIMESTAMP(MICROS,true));", nLines) { (g, id) =>
      val qty = draw(19, id, 50) + 1
      g.append("l_orderkey", draw(16, id, nOrders)).append("l_partkey", draw(17, id, nPart))
        .append("l_suppkey", draw(18, id, nSupp))
        .append("l_linenumber", (draw(20, id, 7) + 1).toInt)
        .append("l_quantity", qty.toDouble)
        .append("l_extendedprice", qty * (90001 + 100 * draw(21, id, 1200)) / 100.0)
        .append("l_discount", draw(22, id, 11) / 100.0)
        .append("l_tax", draw(23, id, 9) / 100.0)
        .append("l_returnflag", oneOf(24, id, Seq("A", "N", "R")))
        .append("l_linestatus", oneOf(25, id, Seq("F", "O")))
        .append("l_shipdate", day(26, id, LocalDate.of(1995, 1, 2), 2498))
    }
    5 + 25 + nCust + nSupp + nPart + nOrders + nLines
  }
}

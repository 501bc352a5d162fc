package graft.sources

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import TpchGen.h

/** A deterministic TPC-DS-shaped GENERATOR connector — the sibling of
  * [[TpchGen]] for the reference's `presto-tpcds` connector
  * (`presto-tpcds/src/main/java/com/facebook/presto/tpcds/
  * TpcdsConnectorFactory.java`, `TpcdsMetadata.java`, splits in
  * `TpcdsSplitManager.java`): the full 24-table retail star schema
  * materializes from pure arithmetic at scan time on the shared
  * [[GenEngine]] (column pruning, generation-pruning key pushdown,
  * key-range splits, exact reported statistics).
  *
  * Like graft-tpch, columns are closed-form functions of the row index
  * over the one shared mixing hash, so a DuckDB oracle replays any
  * column exactly (integer div/mod only — `//` in DuckDB). Shapes
  * follow the TPC-DS spec's proportions (dsdgen's trained text
  * distributions are NOT reproduced — names/addresses are synthetic,
  * the benchmark's JOIN/aggregation structure is what matters here):
  *
  *  - `date_dim` 73,049 rows, `d_date_sk` = julian day (2415022 ↔
  *    1900-01-02, the spec's surrogate convention), calendar fields
  *    derived from the proleptic Gregorian calendar both engines share;
  *  - `customer_demographics` is the spec's full 1,920,800-row CROSS
  *    PRODUCT of the seven demographic dimensions in mixed radix —
  *    decode is pure div/mod, exactly how dsdgen enumerates it;
  *  - `household_demographics` likewise (20×6×10×6 = 7,200);
  *  - facts: store_sales 4 lines/ticket, catalog/web_sales 2
  *    lines/order, sold dates uniform over the spec's 1998-2002 window;
  *  - returns tables are the every-10th-sale slice of their sales
  *    parent, columns RECOMPUTED from the parent's row index — join
  *    keys (item/ticket/order) referentially intact by construction;
  *  - `inventory` is the (week × item × warehouse) lattice.
  */
object TpcdsGen extends ClosedFormGen {

  override def genName: String = "graft-tpcds"

  /** julian-style surrogate of 1900-01-02 (spec convention) */
  val DateSkBase = 2415022L
  /** epoch day of 1900-01-02 */
  val EpochDayBase = -25566L
  /** d_date_sk of 1998-01-01, the sales window start */
  val SoldBase = DateSkBase + 35793L // 1998-01-01 is epoch day 10227
  /** sales window length in days (1998-01-01 .. 2002-12-31) */
  val SoldDays = 1826L

  val tables: Seq[String] = Seq(
    "date_dim", "time_dim", "item", "store", "warehouse", "promotion",
    "call_center", "web_site", "web_page", "catalog_page", "ship_mode",
    "reason", "income_band", "customer", "customer_address",
    "customer_demographics", "household_demographics",
    "store_sales", "store_returns", "catalog_sales", "catalog_returns",
    "web_sales", "web_returns", "inventory")

  private def sc(base: Long, sf: Double, floor: Long = 1L): Long =
    math.max(floor, (base * sf).toLong)

  override def rowCount(table: String, sf: Double): Long = table match {
    case "date_dim" => 73049L
    case "time_dim" => 86400L
    case "item" => sc(18000, sf, 100)
    case "store" => sc(12, sf, 2)
    case "warehouse" => sc(5, sf, 1)
    case "promotion" => sc(300, sf, 3)
    case "call_center" => sc(6, sf, 2)
    case "web_site" => sc(30, sf, 2)
    case "web_page" => sc(60, sf, 2)
    case "catalog_page" => sc(11718, sf, 10)
    case "ship_mode" => 20L
    case "reason" => sc(35, sf, 1)
    case "income_band" => 20L
    case "customer" => sc(100000, sf, 100)
    case "customer_address" => sc(50000, sf, 50)
    case "customer_demographics" => 1920800L
    case "household_demographics" => 7200L
    case "store_sales" => 4L * sc(720000, sf, 250)
    case "store_returns" => rowCount("store_sales", sf) / 10
    case "catalog_sales" => 2L * sc(720000, sf, 250)
    case "catalog_returns" => rowCount("catalog_sales", sf) / 10
    case "web_sales" => 2L * sc(360000, sf, 125)
    case "web_returns" => rowCount("web_sales", sf) / 10
    case "inventory" =>
      weeks * rowCount("item", sf) * rowCount("warehouse", sf)
    case other => throw new IllegalArgumentException(
      s"graft-tpcds: unknown table '$other'")
  }

  private val weeks = 261L // the 5-year sales window in weeks

  override def keyColumn(table: String): String = table match {
    case "date_dim" => "d_date_sk"
    case "time_dim" => "t_time_sk"
    case "item" => "i_item_sk"
    case "store" => "s_store_sk"
    case "warehouse" => "w_warehouse_sk"
    case "promotion" => "p_promo_sk"
    case "call_center" => "cc_call_center_sk"
    case "web_site" => "web_site_sk"
    case "web_page" => "wp_web_page_sk"
    case "catalog_page" => "cp_catalog_page_sk"
    case "ship_mode" => "sm_ship_mode_sk"
    case "reason" => "r_reason_sk"
    case "income_band" => "ib_income_band_sk"
    case "customer" => "c_customer_sk"
    case "customer_address" => "ca_address_sk"
    case "customer_demographics" => "cd_demo_sk"
    case "household_demographics" => "hd_demo_sk"
    case "store_sales" => "ss_ticket_number"
    case "store_returns" => "sr_ticket_number"
    case "catalog_sales" => "cs_order_number"
    case "catalog_returns" => "cr_order_number"
    case "web_sales" => "ws_order_number"
    case "web_returns" => "wr_order_number"
    case "inventory" => "inv_date_sk"
  }

  /** sales lines per ticket/order */
  private def lines(table: String): Long = table match {
    case "store_sales" | "store_returns" => 4L
    case _ => 2L
  }

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  override def indexRangeForKeys(table: String, kLo: Long, kHi: Long,
      n: Long): (Long, Long) = table match {
    case "date_dim" =>
      (math.max(0L, kLo - DateSkBase),
        math.min(n, kHi - DateSkBase + 1))
    case "time_dim" =>
      (math.max(0L, kLo), math.min(n, kHi + 1))
    case "store_sales" | "catalog_sales" | "web_sales" =>
      val l = lines(table)
      (math.max(0L, (kLo - 1) * l), math.min(n, kHi * l))
    case "store_returns" | "catalog_returns" | "web_returns" =>
      // return row k samples sales row 10k of the parent; key(k) =
      // parent key of row 10k
      val l = lines(table)
      val loSale = math.max(0L, (kLo - 1) * l)
      val hiSale = kHi * l // exclusive
      (math.max(0L, ceilDiv(loSale, 10)), math.min(n, ceilDiv(hiSale, 10)))
    case "inventory" =>
      // inv_date_sk = SoldBase + (k / perWeek) * 7
      val perWeek = n / weeks
      val wLo = math.max(0L, ceilDiv(kLo - SoldBase, 7))
      // floorDiv, NOT truncation: a bound just below SoldBase must
      // exclude week 0, and -3/7 truncates to 0
      val wHi = Math.floorDiv(kHi - SoldBase, 7) // inclusive week
      (math.max(0L, wLo * perWeek), math.min(n, (wHi + 1) * perWeek))
    case _ => // all k+1-keyed dimensions
      (math.max(0L, kLo - 1), math.min(n, kHi))
  }

  // ——— value domains (synthetic; spec-shaped level COUNTS) ———

  private val Genders = Array("M", "F")
  private val Maritals = Array("M", "S", "D", "W", "U")
  private val Educations = Array("Primary", "Secondary", "College",
    "2 yr Degree", "4 yr Degree", "Advanced Degree", "Unknown")
  private val Credits = Array("Low Risk", "High Risk", "Good", "Unknown")
  private val BuyPotentials = Array("0-500", "501-1000", "1001-5000",
    "5001-10000", ">10000", "Unknown")
  private val Categories = Array("Books", "Children", "Electronics",
    "Home", "Jewelry", "Men", "Music", "Shoes", "Sports", "Women")
  private val Sizes = Array("small", "medium", "large", "extra large",
    "economy", "N/A", "petite")
  private val Colors = Array("azure", "beige", "black", "blue", "brown",
    "coral", "cream", "cyan", "gold", "green", "indigo", "ivory",
    "khaki", "lime", "magenta", "maroon", "navy", "olive", "orange",
    "white")
  private val Units = Array("Each", "Dozen", "Case", "Pallet", "Gross",
    "Box", "Bundle", "Carton")
  private val States = Array("AL", "CA", "CO", "FL", "GA", "IL", "IN",
    "KS", "KY", "MI", "MN", "MO", "NC", "NE", "NY", "OH", "OK", "PA",
    "SD", "TN", "TX", "UT", "VA", "WA", "WI")
  private val PageTypes = Array("ad", "dynamic", "feedback", "general",
    "order", "protected", "review", "welcome")
  private val CatalogTypes = Array("bi-annual", "monthly", "quarterly")
  private val ShipTypes = Array("EXPRESS", "NEXT DAY", "OVERNIGHT",
    "REGULAR", "TWO DAY")
  private val ShipCodes = Array("AIR", "SURFACE", "SEA")
  private val Carriers = Array("AIRBORNE", "ALLIANCE", "BARIAN",
    "BOXBUNDLES", "CARGO", "DHL", "FEDEX", "GERMA", "GREAT EASTERN",
    "HARMSTORF", "LATVIAN", "MSC", "ORIENTAL", "PRIVATECARRIER",
    "RUPEKSA", "TBS", "UPS", "USPS", "ZHOU", "ZOUROS")
  private val CcNames = Array("NY Metro", "Mid Atlantic", "Midwest",
    "North Midwest", "California", "Pacific Northwest")
  private val CcClasses = Array("small", "medium", "large")

  private def str(s: String): UTF8String = UTF8String.fromString(s)
  private def id(prefix: String, v: Long): UTF8String =
    str(prefix + ("%08d".format(v)))

  // ——— schemas ———

  private def sk(n: String) = StructField(n, LongType, nullable = false)
  private def i32(n: String) = StructField(n, IntegerType, nullable = false)
  private def dbl(n: String) = StructField(n, DoubleType, nullable = false)
  private def s(n: String) = StructField(n, StringType, nullable = false)

  override def schemaOf(table: String): StructType = table match {
    case "date_dim" => StructType(Seq(sk("d_date_sk"),
      StructField("d_date", DateType, nullable = false),
      i32("d_year"), i32("d_moy"), i32("d_dom"), i32("d_qoy"),
      i32("d_dow"), s("d_day_name"), i32("d_month_seq"), i32("d_week_seq")))
    case "time_dim" => StructType(Seq(sk("t_time_sk"), i32("t_hour"),
      i32("t_minute"), i32("t_second"), s("t_am_pm"), s("t_shift")))
    case "item" => StructType(Seq(sk("i_item_sk"), s("i_item_id"),
      s("i_product_name"), s("i_category"), i32("i_category_id"),
      s("i_class"), i32("i_class_id"), s("i_brand"), i32("i_brand_id"),
      i32("i_manufact_id"), i32("i_manager_id"), dbl("i_current_price"),
      s("i_size"), s("i_color"), s("i_units")))
    case "store" => StructType(Seq(sk("s_store_sk"), s("s_store_id"),
      s("s_store_name"), s("s_state"), s("s_city"), s("s_county"),
      s("s_zip"), i32("s_number_employees"), i32("s_floor_space"),
      i32("s_market_id"), i32("s_company_id")))
    case "warehouse" => StructType(Seq(sk("w_warehouse_sk"),
      s("w_warehouse_id"), s("w_warehouse_name"), i32("w_warehouse_sq_ft"),
      s("w_state"), s("w_country")))
    case "promotion" => StructType(Seq(sk("p_promo_sk"), s("p_promo_id"),
      s("p_promo_name"), dbl("p_cost"), i32("p_response_target"),
      s("p_channel_dmail"), s("p_channel_email"), s("p_channel_tv")))
    case "call_center" => StructType(Seq(sk("cc_call_center_sk"),
      s("cc_call_center_id"), s("cc_name"), s("cc_class"),
      i32("cc_employees")))
    case "web_site" => StructType(Seq(sk("web_site_sk"), s("web_site_id"),
      s("web_name"), s("web_class")))
    case "web_page" => StructType(Seq(sk("wp_web_page_sk"),
      s("wp_web_page_id"), s("wp_type"), i32("wp_char_count"),
      i32("wp_link_count")))
    case "catalog_page" => StructType(Seq(sk("cp_catalog_page_sk"),
      s("cp_catalog_page_id"), i32("cp_catalog_number"),
      i32("cp_catalog_page_number"), s("cp_department"), s("cp_type")))
    case "ship_mode" => StructType(Seq(sk("sm_ship_mode_sk"),
      s("sm_ship_mode_id"), s("sm_type"), s("sm_code"), s("sm_carrier")))
    case "reason" => StructType(Seq(sk("r_reason_sk"), s("r_reason_id"),
      s("r_reason_desc")))
    case "income_band" => StructType(Seq(sk("ib_income_band_sk"),
      i32("ib_lower_bound"), i32("ib_upper_bound")))
    case "customer" => StructType(Seq(sk("c_customer_sk"),
      s("c_customer_id"), sk("c_current_cdemo_sk"),
      sk("c_current_hdemo_sk"), sk("c_current_addr_sk"),
      s("c_first_name"), s("c_last_name"), i32("c_birth_year"),
      i32("c_birth_month"), i32("c_birth_day"), s("c_email_address")))
    case "customer_address" => StructType(Seq(sk("ca_address_sk"),
      s("ca_address_id"), s("ca_city"), s("ca_county"), s("ca_state"),
      s("ca_zip"), s("ca_country"), i32("ca_gmt_offset")))
    case "customer_demographics" => StructType(Seq(sk("cd_demo_sk"),
      s("cd_gender"), s("cd_marital_status"), s("cd_education_status"),
      i32("cd_purchase_estimate"), s("cd_credit_rating"),
      i32("cd_dep_count"), i32("cd_dep_employed_count"),
      i32("cd_dep_college_count")))
    case "household_demographics" => StructType(Seq(sk("hd_demo_sk"),
      sk("hd_income_band_sk"), s("hd_buy_potential"), i32("hd_dep_count"),
      i32("hd_vehicle_count")))
    case "store_sales" => StructType(Seq(sk("ss_sold_date_sk"),
      sk("ss_sold_time_sk"), sk("ss_item_sk"), sk("ss_customer_sk"),
      sk("ss_cdemo_sk"), sk("ss_hdemo_sk"), sk("ss_addr_sk"),
      sk("ss_store_sk"), sk("ss_promo_sk"), sk("ss_ticket_number"),
      i32("ss_quantity"), dbl("ss_list_price"), dbl("ss_sales_price"),
      dbl("ss_ext_sales_price"), dbl("ss_ext_discount_amt"),
      dbl("ss_coupon_amt"), dbl("ss_net_profit")))
    case "store_returns" => StructType(Seq(sk("sr_returned_date_sk"),
      sk("sr_item_sk"), sk("sr_customer_sk"), sk("sr_store_sk"),
      sk("sr_ticket_number"), sk("sr_reason_sk"),
      i32("sr_return_quantity"), dbl("sr_return_amt")))
    case "catalog_sales" => StructType(Seq(sk("cs_sold_date_sk"),
      sk("cs_sold_time_sk"), sk("cs_ship_date_sk"), sk("cs_item_sk"),
      sk("cs_bill_customer_sk"), sk("cs_bill_cdemo_sk"),
      sk("cs_ship_addr_sk"), sk("cs_call_center_sk"),
      sk("cs_ship_mode_sk"), sk("cs_warehouse_sk"), sk("cs_promo_sk"),
      sk("cs_order_number"), i32("cs_quantity"), dbl("cs_list_price"),
      dbl("cs_sales_price"), dbl("cs_ext_sales_price"),
      dbl("cs_ext_discount_amt"), dbl("cs_coupon_amt"),
      dbl("cs_net_profit")))
    case "catalog_returns" => StructType(Seq(sk("cr_returned_date_sk"),
      sk("cr_item_sk"), sk("cr_returning_customer_sk"),
      sk("cr_call_center_sk"), sk("cr_order_number"), sk("cr_reason_sk"),
      i32("cr_return_quantity"), dbl("cr_return_amount")))
    case "web_sales" => StructType(Seq(sk("ws_sold_date_sk"),
      sk("ws_sold_time_sk"), sk("ws_ship_date_sk"), sk("ws_item_sk"),
      sk("ws_bill_customer_sk"), sk("ws_ship_customer_sk"),
      sk("ws_web_site_sk"), sk("ws_warehouse_sk"), sk("ws_promo_sk"),
      sk("ws_order_number"), i32("ws_quantity"), dbl("ws_list_price"),
      dbl("ws_sales_price"), dbl("ws_ext_sales_price"),
      dbl("ws_ext_discount_amt"), dbl("ws_net_profit")))
    case "web_returns" => StructType(Seq(sk("wr_returned_date_sk"),
      sk("wr_item_sk"), sk("wr_refunded_customer_sk"),
      sk("wr_web_site_sk"), sk("wr_order_number"), sk("wr_reason_sk"),
      i32("wr_return_quantity"), dbl("wr_return_amt")))
    case "inventory" => StructType(Seq(sk("inv_date_sk"),
      sk("inv_item_sk"), sk("inv_warehouse_sk"),
      i32("inv_quantity_on_hand")))
    case other => throw new IllegalArgumentException(
      s"graft-tpcds: unknown table '$other'")
  }

  // ——— generators ———

  /** sales-money integer cores in CENTS (replay: DuckDB `//`):
    * list = 100 + h(k,b+1) % 19900; sales = list * (20 + h(k,b+2)%81)
    * // 100; wholesale = 50 + h(k,b+3) % 10000. */
  private def listCents(k: Long, b: Long) = 100 + h(k, b + 1) % 19900
  private def salesCents(k: Long, b: Long) =
    listCents(k, b) * (20 + h(k, b + 2) % 81) / 100
  private def qty(k: Long, b: Long) = h(k, b + 4) % 100 + 1

  override def generator(table: String, column: String,
      sf: Double): Long => Any = {
    lazy val nItem = rowCount("item", sf)
    lazy val nCust = rowCount("customer", sf)
    lazy val nCa = rowCount("customer_address", sf)
    lazy val nCd = rowCount("customer_demographics", sf)
    lazy val nStore = rowCount("store", sf)
    lazy val nWh = rowCount("warehouse", sf)
    lazy val nPromo = rowCount("promotion", sf)
    lazy val nCc = rowCount("call_center", sf)
    lazy val nWeb = rowCount("web_site", sf)
    lazy val nReason = rowCount("reason", sf)
    lazy val perWeek = nItem * nWh

    def date(k: Long) = java.time.LocalDate.ofEpochDay(EpochDayBase + k)

    // generic sales-line generator over a channel's salt base; the
    // returns generators re-invoke it at the SAMPLED parent row.
    def sales(b: Long, l: Long, col: String): Long => Any = col match {
      case "sold_date_sk" => k => SoldBase + h(k, b + 11) % SoldDays
      case "sold_time_sk" => k => h(k, b + 12) % 86400
      case "ship_date_sk" =>
        k => SoldBase + h(k, b + 11) % SoldDays + 1 + h(k, b + 13) % 60
      case "item_sk" => k => h(k, b + 14) % nItem + 1
      case "customer_sk" => k => h(k, b + 15) % nCust + 1
      case "cdemo_sk" => k => h(k, b + 16) % nCd + 1
      case "hdemo_sk" => k => h(k, b + 17) % 7200 + 1
      case "addr_sk" => k => h(k, b + 18) % nCa + 1
      case "store_sk" => k => h(k, b + 19) % nStore + 1
      case "warehouse_sk" => k => h(k, b + 19) % nWh + 1
      case "call_center_sk" => k => h(k, b + 19) % nCc + 1
      case "web_site_sk" => k => h(k, b + 20) % nWeb + 1
      case "ship_customer_sk" => k => h(k, b + 21) % nCust + 1
      case "ship_mode_sk" => k => h(k, b + 22) % 20 + 1
      case "promo_sk" => k => h(k, b + 23) % nPromo + 1
      case "order_number" | "ticket_number" => k => k / l + 1
      case "quantity" => k => qty(k, b).toInt
      case "list_price" => k => listCents(k, b) / 100.0
      case "sales_price" => k => salesCents(k, b) / 100.0
      case "ext_sales_price" => k => salesCents(k, b) * qty(k, b) / 100.0
      case "ext_discount_amt" =>
        k => (listCents(k, b) - salesCents(k, b)) * qty(k, b) / 100.0
      case "coupon_amt" => k => (h(k, b + 5) % 5000) / 100.0
      case "net_profit" =>
        k => (salesCents(k, b) - (50 + h(k, b + 3) % 10000)) * qty(k, b) / 100.0
    }
    val SsB = 100L; val CsB = 200L; val WsB = 300L

    (table, column) match {
      case ("date_dim", "d_date_sk") => k => DateSkBase + k
      case ("date_dim", "d_date") => k => (EpochDayBase + k).toInt
      case ("date_dim", "d_year") => k => date(k).getYear
      case ("date_dim", "d_moy") => k => date(k).getMonthValue
      case ("date_dim", "d_dom") => k => date(k).getDayOfMonth
      case ("date_dim", "d_qoy") => k => (date(k).getMonthValue - 1) / 3 + 1
      // 1900-01-02 was a Tuesday; spec d_dow runs 0=Sunday
      case ("date_dim", "d_dow") => k => ((k + 2) % 7).toInt
      case ("date_dim", "d_day_name") =>
        k => str(date(k).getDayOfWeek.getDisplayName(
          java.time.format.TextStyle.FULL, java.util.Locale.ENGLISH))
      case ("date_dim", "d_month_seq") =>
        k => (date(k).getYear - 1900) * 12 + date(k).getMonthValue - 1
      case ("date_dim", "d_week_seq") => k => (k / 7 + 1).toInt

      case ("time_dim", "t_time_sk") => k => k
      case ("time_dim", "t_hour") => k => (k / 3600).toInt
      case ("time_dim", "t_minute") => k => ((k / 60) % 60).toInt
      case ("time_dim", "t_second") => k => (k % 60).toInt
      case ("time_dim", "t_am_pm") =>
        k => str(if (k < 43200) "AM" else "PM")
      case ("time_dim", "t_shift") =>
        k => str(if (k < 28800) "third" else if (k < 57600) "first"
          else "second")

      case ("item", "i_item_sk") => k => k + 1
      case ("item", "i_item_id") => k => id("ITEM", k + 1)
      case ("item", "i_product_name") => k => str("Product " + (k + 1))
      case ("item", "i_category") =>
        k => str(Categories((h(k, 41) % 10).toInt))
      case ("item", "i_category_id") => k => (h(k, 41) % 10 + 1).toInt
      case ("item", "i_class") =>
        k => str("class" + (h(k, 42) % 16 + 1))
      case ("item", "i_class_id") => k => (h(k, 42) % 16 + 1).toInt
      case ("item", "i_brand") =>
        k => str("Brand#" + (h(k, 43) % 5 + 1) + (h(k, 44) % 10))
      case ("item", "i_brand_id") =>
        k => ((h(k, 43) % 5 + 1) * 1000000 + (h(k, 44) % 10) * 1000 +
          h(k, 45) % 1000).toInt
      case ("item", "i_manufact_id") => k => (h(k, 45) % 1000 + 1).toInt
      case ("item", "i_manager_id") => k => (h(k, 46) % 100 + 1).toInt
      case ("item", "i_current_price") =>
        k => (100 + h(k, 47) % 9900) / 100.0
      case ("item", "i_size") => k => str(Sizes((h(k, 48) % 7).toInt))
      case ("item", "i_color") => k => str(Colors((h(k, 49) % 20).toInt))
      case ("item", "i_units") => k => str(Units((h(k, 50) % 8).toInt))

      case ("store", "s_store_sk") => k => k + 1
      case ("store", "s_store_id") => k => id("STORE", k + 1)
      case ("store", "s_store_name") => k => str("Store_" + (k + 1))
      case ("store", "s_state") => k => str(States((h(k, 51) % 25).toInt))
      case ("store", "s_city") => k => str("City_" + h(k, 52) % 100)
      case ("store", "s_county") => k => str("County_" + h(k, 53) % 30)
      case ("store", "s_zip") =>
        k => str("%05d".format(h(k, 54) % 100000))
      case ("store", "s_number_employees") =>
        k => (200 + h(k, 55) % 100).toInt
      case ("store", "s_floor_space") =>
        k => (5000000 + h(k, 56) % 1000000).toInt
      case ("store", "s_market_id") => k => (h(k, 57) % 10 + 1).toInt
      case ("store", "s_company_id") => _ => 1

      case ("warehouse", "w_warehouse_sk") => k => k + 1
      case ("warehouse", "w_warehouse_id") => k => id("WH", k + 1)
      case ("warehouse", "w_warehouse_name") =>
        k => str("Warehouse_" + (k + 1))
      case ("warehouse", "w_warehouse_sq_ft") =>
        k => (50000 + h(k, 58) % 950000).toInt
      case ("warehouse", "w_state") =>
        k => str(States((h(k, 59) % 25).toInt))
      case ("warehouse", "w_country") => _ => str("United States")

      case ("promotion", "p_promo_sk") => k => k + 1
      case ("promotion", "p_promo_id") => k => id("PROMO", k + 1)
      case ("promotion", "p_promo_name") => k => str("promo_" + (k + 1))
      case ("promotion", "p_cost") => k => (h(k, 60) % 100000) / 100.0
      case ("promotion", "p_response_target") => _ => 1
      case ("promotion", "p_channel_dmail") =>
        k => str(if (h(k, 61) % 2 == 0) "Y" else "N")
      case ("promotion", "p_channel_email") =>
        k => str(if (h(k, 62) % 2 == 0) "Y" else "N")
      case ("promotion", "p_channel_tv") =>
        k => str(if (h(k, 63) % 2 == 0) "Y" else "N")

      case ("call_center", "cc_call_center_sk") => k => k + 1
      case ("call_center", "cc_call_center_id") => k => id("CC", k + 1)
      case ("call_center", "cc_name") =>
        k => str(CcNames((k % 6).toInt))
      case ("call_center", "cc_class") =>
        k => str(CcClasses((h(k, 64) % 3).toInt))
      case ("call_center", "cc_employees") =>
        k => (100 + h(k, 65) % 600).toInt

      case ("web_site", "web_site_sk") => k => k + 1
      case ("web_site", "web_site_id") => k => id("WEB", k + 1)
      case ("web_site", "web_name") => k => str("site_" + (k % 15))
      case ("web_site", "web_class") => _ => str("Unknown")

      case ("web_page", "wp_web_page_sk") => k => k + 1
      case ("web_page", "wp_web_page_id") => k => id("WP", k + 1)
      case ("web_page", "wp_type") =>
        k => str(PageTypes((h(k, 66) % 8).toInt))
      case ("web_page", "wp_char_count") =>
        k => (100 + h(k, 67) % 8000).toInt
      case ("web_page", "wp_link_count") => k => (2 + h(k, 68) % 23).toInt

      case ("catalog_page", "cp_catalog_page_sk") => k => k + 1
      case ("catalog_page", "cp_catalog_page_id") => k => id("CP", k + 1)
      case ("catalog_page", "cp_catalog_number") =>
        k => (k / 100 + 1).toInt
      case ("catalog_page", "cp_catalog_page_number") =>
        k => (k % 100 + 1).toInt
      case ("catalog_page", "cp_department") => _ => str("DEPARTMENT")
      case ("catalog_page", "cp_type") =>
        k => str(CatalogTypes((h(k, 69) % 3).toInt))

      case ("ship_mode", "sm_ship_mode_sk") => k => k + 1
      case ("ship_mode", "sm_ship_mode_id") => k => id("SM", k + 1)
      case ("ship_mode", "sm_type") => k => str(ShipTypes((k % 5).toInt))
      case ("ship_mode", "sm_code") => k => str(ShipCodes((k % 3).toInt))
      case ("ship_mode", "sm_carrier") =>
        k => str(Carriers((k % 20).toInt))

      case ("reason", "r_reason_sk") => k => k + 1
      case ("reason", "r_reason_id") => k => id("REASON", k + 1)
      case ("reason", "r_reason_desc") => k => str("reason " + (k + 1))

      case ("income_band", "ib_income_band_sk") => k => k + 1
      case ("income_band", "ib_lower_bound") => k => (k * 10000).toInt
      case ("income_band", "ib_upper_bound") =>
        k => ((k + 1) * 10000 - 1).toInt

      case ("customer", "c_customer_sk") => k => k + 1
      case ("customer", "c_customer_id") => k => id("CUST", k + 1)
      case ("customer", "c_current_cdemo_sk") => k => h(k, 71) % nCd + 1
      case ("customer", "c_current_hdemo_sk") => k => h(k, 72) % 7200 + 1
      case ("customer", "c_current_addr_sk") => k => h(k, 73) % nCa + 1
      case ("customer", "c_first_name") =>
        k => str("First" + h(k, 74) % 1000)
      case ("customer", "c_last_name") =>
        k => str("Last" + h(k, 75) % 1000)
      case ("customer", "c_birth_year") =>
        k => (1930 + h(k, 76) % 70).toInt
      case ("customer", "c_birth_month") => k => (h(k, 77) % 12 + 1).toInt
      case ("customer", "c_birth_day") => k => (h(k, 78) % 28 + 1).toInt
      case ("customer", "c_email_address") =>
        k => str("c" + (k + 1) + "@example.com")

      case ("customer_address", "ca_address_sk") => k => k + 1
      case ("customer_address", "ca_address_id") => k => id("ADDR", k + 1)
      case ("customer_address", "ca_city") =>
        k => str("City_" + h(k, 81) % 500)
      case ("customer_address", "ca_county") =>
        k => str("County_" + h(k, 82) % 100)
      case ("customer_address", "ca_state") =>
        k => str(States((h(k, 83) % 25).toInt))
      case ("customer_address", "ca_zip") =>
        k => str("%05d".format(h(k, 84) % 100000))
      case ("customer_address", "ca_country") => _ => str("United States")
      case ("customer_address", "ca_gmt_offset") =>
        k => (-5 - h(k, 85) % 4).toInt

      // the spec's full mixed-radix cross product of the 7 demographic
      // dimensions: 2 x 5 x 7 x 20 x 4 x 7 x 7 x 7 = 1,920,800
      case ("customer_demographics", "cd_demo_sk") => k => k + 1
      case ("customer_demographics", "cd_gender") =>
        k => str(Genders((k % 2).toInt))
      case ("customer_demographics", "cd_marital_status") =>
        k => str(Maritals(((k / 2) % 5).toInt))
      case ("customer_demographics", "cd_education_status") =>
        k => str(Educations(((k / 10) % 7).toInt))
      case ("customer_demographics", "cd_purchase_estimate") =>
        k => (((k / 70) % 20 + 1) * 500).toInt
      case ("customer_demographics", "cd_credit_rating") =>
        k => str(Credits(((k / 1400) % 4).toInt))
      case ("customer_demographics", "cd_dep_count") =>
        k => ((k / 5600) % 7).toInt
      case ("customer_demographics", "cd_dep_employed_count") =>
        k => ((k / 39200) % 7).toInt
      case ("customer_demographics", "cd_dep_college_count") =>
        k => ((k / 274400) % 7).toInt

      // 20 income bands x 6 buy potentials x 10 dep counts x 6 vehicles
      case ("household_demographics", "hd_demo_sk") => k => k + 1
      case ("household_demographics", "hd_income_band_sk") => k => k % 20 + 1
      case ("household_demographics", "hd_buy_potential") =>
        k => str(BuyPotentials(((k / 20) % 6).toInt))
      case ("household_demographics", "hd_dep_count") =>
        k => ((k / 120) % 10).toInt
      case ("household_demographics", "hd_vehicle_count") =>
        k => ((k / 1200) % 6).toInt

      case ("store_sales", c) if c.startsWith("ss_") =>
        sales(SsB, 4, c.stripPrefix("ss_"))
      case ("catalog_sales", "cs_bill_customer_sk") =>
        sales(CsB, 2, "customer_sk")
      case ("catalog_sales", "cs_bill_cdemo_sk") =>
        sales(CsB, 2, "cdemo_sk")
      case ("catalog_sales", "cs_ship_addr_sk") => sales(CsB, 2, "addr_sk")
      case ("catalog_sales", c) if c.startsWith("cs_") =>
        sales(CsB, 2, c.stripPrefix("cs_"))
      case ("web_sales", "ws_bill_customer_sk") =>
        sales(WsB, 2, "customer_sk")
      case ("web_sales", c) if c.startsWith("ws_") =>
        sales(WsB, 2, c.stripPrefix("ws_"))

      // returns: the every-10th-sale slice — parent columns recomputed
      // AT THE SAMPLED ROW (j = 10k), return-specific fields fresh
      case ("store_returns", c) =>
        val j = (k: Long) => 10 * k
        c match {
          case "sr_returned_date_sk" => k =>
            SoldBase + h(j(k), SsB + 11) % SoldDays + 1 + h(k, 150) % 90
          case "sr_item_sk" => k => sales(SsB, 4, "item_sk")(j(k))
          case "sr_customer_sk" => k => sales(SsB, 4, "customer_sk")(j(k))
          case "sr_store_sk" => k => sales(SsB, 4, "store_sk")(j(k))
          case "sr_ticket_number" => k => j(k) / 4 + 1
          case "sr_reason_sk" => k => h(k, 151) % nReason + 1
          case "sr_return_quantity" => k => (h(k, 152) % 10 + 1).toInt
          case "sr_return_amt" => k => (h(k, 153) % 10000) / 100.0
        }
      case ("catalog_returns", c) =>
        val j = (k: Long) => 10 * k
        c match {
          case "cr_returned_date_sk" => k =>
            SoldBase + h(j(k), CsB + 11) % SoldDays + 1 + h(k, 160) % 90
          case "cr_item_sk" => k => sales(CsB, 2, "item_sk")(j(k))
          case "cr_returning_customer_sk" =>
            k => sales(CsB, 2, "customer_sk")(j(k))
          case "cr_call_center_sk" =>
            k => sales(CsB, 2, "call_center_sk")(j(k))
          case "cr_order_number" => k => j(k) / 2 + 1
          case "cr_reason_sk" => k => h(k, 161) % nReason + 1
          case "cr_return_quantity" => k => (h(k, 162) % 10 + 1).toInt
          case "cr_return_amount" => k => (h(k, 163) % 10000) / 100.0
        }
      case ("web_returns", c) =>
        val j = (k: Long) => 10 * k
        c match {
          case "wr_returned_date_sk" => k =>
            SoldBase + h(j(k), WsB + 11) % SoldDays + 1 + h(k, 170) % 90
          case "wr_item_sk" => k => sales(WsB, 2, "item_sk")(j(k))
          case "wr_refunded_customer_sk" =>
            k => sales(WsB, 2, "customer_sk")(j(k))
          case "wr_web_site_sk" => k => sales(WsB, 2, "web_site_sk")(j(k))
          case "wr_order_number" => k => j(k) / 2 + 1
          case "wr_reason_sk" => k => h(k, 171) % nReason + 1
          case "wr_return_quantity" => k => (h(k, 172) % 10 + 1).toInt
          case "wr_return_amt" => k => (h(k, 173) % 10000) / 100.0
        }

      // (week x item x warehouse) lattice
      case ("inventory", "inv_date_sk") =>
        k => SoldBase + (k / perWeek) * 7
      case ("inventory", "inv_item_sk") => k => k % nItem + 1
      case ("inventory", "inv_warehouse_sk") =>
        k => (k / nItem) % nWh + 1
      case ("inventory", "inv_quantity_on_hand") =>
        k => (h(k, 180) % 1000).toInt

      case (t, c) => throw new IllegalArgumentException(
        s"graft-tpcds: no generator for $t.$c")
    }
  }
}

/** spark.read.format("graft-tpcds") entry point. */
class TpcdsTableProvider extends GenProvider(TpcdsGen)

package graft.builtin

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.{CsvSink, PyFormat}

/** The reference's two hardcoded pipelines (Revolut stocks/crypto →
  * Ghostfolio) re-expressed as compiled Spark column plans — SURVEY.md §2.A
  * H1-H9, citing /root/reference/src/converter/transformers/
  * revolut_stocks.py and revolut_crypto.py. Behavior is pinned byte-for-byte
  * by RevolutParitySpec against goldens produced by EXECUTING the reference
  * (tools/gen_golden.py).
  *
  * Each pipeline is one shuffle-free stage: scan → filter → project → write
  * (EP1's generator chain, SURVEY.md §3). At 100 TB the same plan fans out
  * over input splits untouched; there is no state and no aggregation.
  */
object Revolut {

  private val GhostfolioFields = Seq(
    "date", "symbol", "type", "quantity", "unitPrice", "fee", "currency",
    "account", "dataSource")

  /** f"{v:.8f}".rstrip("0").rstrip(".") — ghostfolio.py:48-51. */
  private val money8 = udf((d: Double) => PyFormat.money8(d))

  /** The extractors read columns via `row.get(name, "")` — a column missing
    * from the export entirely behaves exactly like an empty cell
    * (extractors/revolut_stocks.py:20-27). Mirror that: fill absent
    * expected columns with nulls so the plans' coalesce-to-"" takes over
    * (fuzz-found: a dropped Currency/Fees column crashed the plan where
    * the reference defaulted it). */
  private def withExpected(raw: DataFrame, names: Seq[String]): DataFrame =
    names.foldLeft(raw)((df, n) =>
      if (df.columns.contains(n)) df
      else df.withColumn(n, lit(null).cast("string")))

  /** Python str.strip() parity: strips everything str.isspace() accepts —
    * Java's \s is only [ \t\n\x0B\f\r], so the class adds the ASCII
    * separators (\x1c-\x1f), NEL (\x85), NBSP (\xa0) and the Unicode
    * space block Python also strips (round-13 review: a '\x1c'-padded
    * ticker diverged from the reference extractor). */
  private def pyStrip(c: Column): Column =
    regexp_replace(c,
      "^[\\s\\u001c-\\u001f\\u0085\\u00a0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]+" +
        "|[\\s\\u001c-\\u001f\\u0085\\u00a0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]+$",
      "")

  // ---- shared lenient parsers -------------------------------------------

  /** H5 — revolut_stocks.py:104-111: strip commas; empty/bad → 0.0. */
  def parseFloat(c: Column): Column =
    coalesce(regexp_replace(c, ",", "").try_cast("double"), lit(0.0))

  /** H6 — revolut_stocks.py:113-126: strip ONE leading currency-code prefix
    * then lenient float. */
  def parsePrice(c: Column): Column =
    parseFloat(regexp_replace(c, "^(USD|EUR|GBP) ", ""))

  /** H7 — revolut_crypto.py:140-151: strip €$£ and commas anywhere, abs,
    * empty/bad → 0.0. */
  def parseMoney(c: Column): Column =
    abs(coalesce(regexp_replace(c, "[€$£,]", "").try_cast("double"), lit(0.0)))

  /** H8 — revolut_crypto.py:99-111: currency from the leading symbol of
    * price-or-value; default EUR. */
  def detectCurrency(price: Column, value: Column): Column = {
    val src = when(price.isNull || price === "", value).otherwise(price)
    when(src.startsWith("€"), "EUR")
      .when(src.startsWith("$"), "USD")
      .when(src.startsWith("£"), "GBP")
      .otherwise("EUR")
  }

  /** H4 — multi-format date parse, first matching format wins, failure
    * passes the original through (revolut_stocks.py:86-102,
    * revolut_crypto.py:113-128). Each strptime format becomes
    * full-string-regex gate (strptime matches the whole string) +
    * try_to_timestamp validation (rejects out-of-range fields). */
  private def tryFmt(c: Column, fullRegex: String, normalized: Column,
                     javaFmt: String): Column =
    when(c.rlike(fullRegex), try_to_timestamp(normalized, lit(javaFmt)))

  def parseDateStocks(c: Column): Column = {
    // strptime field leniency (CPython _strptime regexes): %Y is exactly 4
    // digits but %m/%d/%H/%M/%S accept UNPADDED 1-2 digit values — so
    // "2024-1-5" parses where a zero-padded-only pattern would pass it
    // through (fuzz-found). Single-letter Java pattern fields accept both.
    val iso = "yyyy-M-d'T'H:m:s"
    val parsed = coalesce(
      tryFmt(c, "^\\d{4}-\\d{1,2}-\\d{1,2}T\\d{1,2}:\\d{1,2}:\\d{1,2}\\.\\d{1,6}Z$",
        regexp_replace(c, "\\.\\d+Z$", ""), iso),
      tryFmt(c, "^\\d{4}-\\d{1,2}-\\d{1,2}T\\d{1,2}:\\d{1,2}:\\d{1,2}Z$",
        regexp_replace(c, "Z$", ""), iso),
      tryFmt(c, "^\\d{4}-\\d{1,2}-\\d{1,2}T\\d{1,2}:\\d{1,2}:\\d{1,2}$", c, iso),
      tryFmt(c, "^\\d{4}-\\d{1,2}-\\d{1,2}$", c, "yyyy-M-d"),
      tryFmt(c, "^\\d{1,2}/\\d{1,2}/\\d{4}$", c, "d/M/yyyy"))
    when(parsed.isNotNull, date_format(parsed, "yyyy-MM-dd")).otherwise(c)
  }

  def parseDateCrypto(c: Column): Column = {
    // strptime matches month names and AM/PM case-insensitively (CPython
    // compiles its locale regexes with IGNORECASE); Java's formatter is
    // case-sensitive — normalize the month token to Titlecase and the
    // meridiem to upper before parsing (fuzz-found on "feb … am"). Field
    // padding leniency as in parseDateStocks.
    val monNorm = concat(
      initcap(lower(regexp_extract(c, "^([A-Za-z]+)", 1))),
      regexp_extract(c, "^[A-Za-z]+(.*?)[AaPp][Mm]$", 1),
      upper(regexp_extract(c, "([AaPp][Mm])$", 1)))
    val parsed = coalesce(
      tryFmt(c, "^[A-Za-z]{3} \\d{1,2}, \\d{4}, \\d{1,2}:\\d{1,2}:\\d{1,2} [AaPp][Mm]$",
        monNorm, "MMM d, yyyy, h:m:s a"),
      tryFmt(c, "^[A-Za-z]{4,9} \\d{1,2}, \\d{4}, \\d{1,2}:\\d{1,2}:\\d{1,2} [AaPp][Mm]$",
        monNorm, "MMMM d, yyyy, h:m:s a"),
      tryFmt(c, "^\\d{4}-\\d{1,2}-\\d{1,2}T\\d{1,2}:\\d{1,2}:\\d{1,2}\\.\\d{1,6}Z$",
        regexp_replace(c, "\\.\\d+Z$", ""), "yyyy-M-d'T'H:m:s"),
      tryFmt(c, "^\\d{4}-\\d{1,2}-\\d{1,2}$", c, "yyyy-M-d"))
    when(parsed.isNotNull, date_format(parsed, "yyyy-MM-dd")).otherwise(c)
  }

  // ---- stocks pipeline (revolut_stocks.py) ------------------------------

  private val StocksTypeMap = Map(
    "BUY - MARKET" -> "BUY", "BUY - LIMIT" -> "BUY",
    "SELL - MARKET" -> "SELL", "SELL - LIMIT" -> "SELL",
    "DIVIDEND" -> "DIVIDEND")
  private val StocksSkipTypes =
    Seq("CASH TOP-UP", "CASH WITHDRAWAL", "CUSTODY FEE", "STOCK SPLIT")
  private val CurrencySuffix = Map("EUR" -> ".DE", "GBP" -> ".L", "GBX" -> ".L")
  private val StocksSymbolMap = Map("4P41" -> "P911.DE")

  /** H1 — exact map then BUY…/SELL… prefix fallback; unmapped → null
    * (dropped). revolut_stocks.py:13-19, 77-84. */
  def mapStocksType(typeUpper: Column): Column = {
    val exact = StocksTypeMap.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(typeUpper === k, v).otherwise(acc)
    }
    coalesce(exact,
      when(typeUpper.startsWith("BUY"), "BUY"),
      when(typeUpper.startsWith("SELL"), "SELL"))
  }

  /** H3 — symbol map, else USD passthrough, else currency suffix with
    * endswith guard. revolut_stocks.py:23-33, 63-75. */
  def mapStocksSymbol(ticker: Column, currency: Column): Column = {
    val mapped = StocksSymbolMap.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(ticker === k, v).otherwise(acc)
    }
    val suffix = CurrencySuffix.foldLeft(lit("")) {
      case (acc, (k, v)) => when(currency === k, v).otherwise(acc)
    }
    coalesce(mapped,
      when(currency === "USD", ticker)
        .when(suffix =!= "" && !ticker.endsWith(suffix), concat(ticker, suffix))
        .otherwise(ticker))
  }

  /** Full stocks plan over a raw all-string CSV frame with the Revolut
    * export header. Output: the 9 Ghostfolio columns as formatted strings,
    * plus any `keep` columns carried through (e.g. file provenance for the
    * glob-mode writer). */
  def stocksPlan(raw0: DataFrame, accountName: String = "Revolut Stocks",
                 keep: Seq[String] = Nil): DataFrame = {
    // S3 extractor strip + Currency default (extractors/revolut_stocks.py:20-27)
    val raw = withExpected(raw0, Seq(
      "Date", "Ticker", "Type", "Quantity", "Price per share", "Currency"))
    def f(name: String) = pyStrip(coalesce(col(name), lit("")))
    val currency = when(f("Currency") === "", "USD").otherwise(f("Currency"))
    val typeUpper = upper(f("Type"))
    raw
      .withColumn("__type", typeUpper)
      .withColumn("__ccy", currency)
      // H2 skip types + empty ticker (revolut_stocks.py:21, 40-48)
      .filter(!typeUpper.isin(StocksSkipTypes: _*) && f("Ticker") =!= "")
      .withColumn("__gftype", mapStocksType(typeUpper))
      .filter(col("__gftype").isNotNull)
      .select(Seq(
        parseDateStocks(f("Date")).as("date"),
        mapStocksSymbol(f("Ticker"), col("__ccy")).as("symbol"),
        col("__gftype").as("type"),
        money8(parseFloat(f("Quantity"))).as("quantity"),
        money8(parsePrice(f("Price per share"))).as("unitPrice"),
        money8(lit(0.0)).as("fee"),
        col("__ccy").as("currency"),
        lit(accountName).as("account"),
        lit("").as("dataSource")) ++ keep.map(col): _*)
  }

  /** S2 scale mode: ONE Spark job over a whole directory of export CSVs,
    * per-file provenance via input_file_name, one output directory per
    * source file (partitionBy) — replaces the driver-side per-file loop at
    * scale (SURVEY.md §2.A S2/O2). Returns rows written per source stem. */
  def processStocksGlob(spark: org.apache.spark.sql.SparkSession,
                        inGlob: String, outDir: String,
                        accountName: String = "Revolut Stocks"): Map[String, Long] = {
    val raw = graft.engine.CsvSource.read(spark, inGlob, graft.spec.FileSpec("g", "g"))
      .withColumn("src_file",
        regexp_extract(input_file_name(), "([^/]+)\\.csv", 1))
    val planned = stocksPlan(raw, accountName, keep = Seq("src_file"))
    planned.write
      .partitionBy("src_file")
      .option("header", value = true)
      .option("escape", "\"").option("emptyValue", "").option("nullValue", "")
      .mode("overwrite")
      .csv(outDir)
    planned.groupBy("src_file").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  // ---- crypto pipeline (revolut_crypto.py) ------------------------------

  private val CryptoSkipTypes = Seq("PAYMENT", "STAKE", "UNSTAKE", "SEND", "RECEIVE")
  private val CryptoSymbolMap: Map[String, String] = Seq(
    "BTC", "ETH", "DOGE", "SHIB", "XRP", "DOT", "ADA", "SOL", "MATIC", "LINK",
    "UNI", "AVAX", "ATOM", "LTC", "XLM", "ALGO", "VET", "FIL", "AAVE", "GRT",
    "SAND", "MANA", "AXS", "ENJ", "CHZ", "GALA", "PEPE", "SPELL", "SUSHI",
    "ANKR", "SKL", "ACH", "AMP", "OGN", "REN", "CTSI", "FIDA", "BLZ", "XCN")
    .map(s => s -> s"$s-USD").toMap

  /** H3 (crypto) — exact 39-entry map else `SYM-USD`.
    * revolut_crypto.py:20-61, 85. */
  def mapCryptoSymbol(symbolUpper: Column): Column = {
    val mapped = CryptoSymbolMap.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(symbolUpper === k, v).otherwise(acc)
    }
    coalesce(mapped, concat(symbolUpper, lit("-USD")))
  }

  /** Full crypto plan over a raw all-string CSV frame (`keep` as in
    * stocksPlan). */
  def cryptoPlan(raw0: DataFrame, accountName: String = "Revolut Crypto",
                 keep: Seq[String] = Nil): DataFrame = {
    val raw = withExpected(raw0, Seq(
      "Symbol", "Type", "Quantity", "Price", "Value", "Fees", "Date"))
    def f(name: String) = pyStrip(coalesce(col(name), lit("")))
    val typeUpper = upper(f("Type"))
    raw
      .filter(!typeUpper.isin(CryptoSkipTypes: _*))
      .withColumn("__gftype",
        when(typeUpper === "BUY", "BUY").when(typeUpper === "SELL", "SELL"))
      .filter(col("__gftype").isNotNull && f("Symbol") =!= "")
      .select(Seq(
        parseDateCrypto(f("Date")).as("date"),
        mapCryptoSymbol(upper(f("Symbol"))).as("symbol"),
        col("__gftype").as("type"),
        money8(parseFloat(f("Quantity"))).as("quantity"),
        money8(parseMoney(f("Price"))).as("unitPrice"),
        money8(parseMoney(f("Fees"))).as("fee"),
        detectCurrency(f("Price"), f("Value")).as("currency"),
        lit(accountName).as("account"),
        lit("YAHOO").as("dataSource")) ++ keep.map(col): _*)
  }

  /** S2 scale mode for crypto exports (see processStocksGlob). */
  def processCryptoGlob(spark: org.apache.spark.sql.SparkSession,
                        inGlob: String, outDir: String,
                        accountName: String = "Revolut Crypto"): Map[String, Long] = {
    val raw = graft.engine.CsvSource.read(spark, inGlob, graft.spec.FileSpec("g", "g"))
      .withColumn("src_file",
        regexp_extract(input_file_name(), "([^/]+)\\.csv", 1))
    val planned = cryptoPlan(raw, accountName, keep = Seq("src_file"))
    planned.write
      .partitionBy("src_file")
      .option("header", value = true)
      .option("escape", "\"").option("emptyValue", "").option("nullValue", "")
      .mode("overwrite")
      .csv(outDir)
    planned.groupBy("src_file").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** K1 — write one Ghostfolio CSV per input (csv_loader.py:11-23) and
    * return the loaded count (the pipeline contract, pipeline.py:23-34). */
  def writeGhostfolio(plan: DataFrame, outFile: String): Long =
    CsvSink.writeSingleFile(plan, GhostfolioFields, outFile).get
}

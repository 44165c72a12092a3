package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generated Jalali↔Gregorian dim-date table (SURVEY.md §2.1 S7).
  *
  * The reference ships a 40,151-row xlsx (full-dimdate-pb.xlsx, sheet
  * DATES: Miladi, Jalali strings, year/month/quarter/weekday/week-number
  * columns in both calendars) for Power BI time-intelligence. Here the
  * same shape is generated natively: `sequence + explode` over the date
  * range, Jalali parts from the native expression — no artifact to ship,
  * any range on demand.
  *
  * Week-number conventions, recovered from the artifact itself (every
  * rule below reproduces all 40,151 xlsx rows exactly; pinned by
  * GoldenDimDateSpec against fixtures/dimdate_golden.csv):
  *  - JWeekDay is 1=Saturday..7=Friday (Persian week).
  *  - JWeekNum is the week of the Jalali year with weeks breaking at
  *    Saturday and week 1 containing Farvardin 1 (Excel WEEKNUM-style
  *    anchoring on the year start, Saturday-based).
  *  - MWeekNum is Excel `WEEKNUM(date, 1)`: weeks break at Sunday and
  *    week 1 contains Jan 1 — NOT ISO 8601 (`weekofyear`), which the
  *    xlsx contradicts at every Sunday row (e.g. 1941-03-23 is week 13
  *    in the artifact but ISO week 12).
  */
object DimDate {

  private val jMonthNames = Seq("Farvardin", "Ordibehesht", "Khordad",
    "Tir", "Mordad", "Shahrivar", "Mehr", "Aban", "Azar", "Dey",
    "Bahman", "Esfand")

  /** The calendar as one projection over `d` and its Jalali parts: each
    * derived column is written out in terms of those two, not as a
    * `withColumn` over the previous ones, so analysis sees one Project
    * instead of re-resolving a plan that grows by one per column. */
  def generate(spark: SparkSession, start: String, end: String): DataFrame = {
    GraftFunctions.register(spark)
    // distributed generation: explode(sequence(...)) would build the
    // whole span inside one task; range() shards it across the cluster
    val nDays = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(start), java.time.LocalDate.parse(end))
    require(nDays >= 0, s"end $end precedes start $start")
    val d = col("d")
    val (jy, jm, jd) = (col("jp.jy"), col("jp.jm"), col("jp.jd"))
    val jDayOfYear =
      when(jm <= 7, (jm - 1) * 31 + jd)
        .otherwise(lit(186) + (jm - 7) * 30 + jd)
        .cast("int")
    val jWeekDay = (pmod(dayofweek(d), lit(7)) + 1).cast("int") // 1=Saturday .. 7=Friday
    spark.range(nDays + 1)
      .select(date_add(to_date(lit(start)), col("id").cast("int")).as("d"))
      .select(d, GraftFunctions.jalaliParts(d).as("jp"))
      .select(
        date_format(d, "yyyy-MM-dd").as("miladi"),
        jy.as("jyear"),
        jm.as("jmonth"),
        jd.as("jday"),
        format_string("%04d/%02d/%02d", jy, jm, jd).as("jalali"),
        lookup(jm, jMonthNames).as("jmonth_name"),
        ((jm - 1) / 3 + 1).cast("int").as("jquarter"),
        when(jm <= 6, 1).otherwise(2).as("jnime"),
        jDayOfYear.as("jday_of_year"),
        jWeekDay.as("jweek_day"),
        // Saturday-based offset of Farvardin 1, recovered from the row's
        // own weekday: offset ≡ jweek_day-1 - (jday_of_year-1)  (mod 7).
        ((jDayOfYear - 1 + pmod(jWeekDay - 1 - (jDayOfYear - 1), lit(7)))
          .divide(7).cast("int") + 1).cast("int").as("jweek_num"),
        year(d).as("myear"),
        month(d).as("mmonth"),
        dayofmonth(d).as("mday"),
        date_format(d, "MMMM").as("mmonth_name"),
        quarter(d).as("mquarter"),
        when(month(d) <= 6, 1).otherwise(2).as("mnime"),
        date_format(d, "EEEE").as("mweek_day"),
        // Excel WEEKNUM(d, 1): Sunday-start weeks anchored at Jan 1.
        // Spark dayofweek is 1=Sunday..7=Saturday, so dayofweek(jan1)-1
        // is the Sunday-based offset of the year start.
        ((dayofyear(d) + dayofweek(trunc(d, "year")) - 2)
          .divide(7).cast("int") + 1).cast("int").as("mweek_num"))
  }

  // Farsi vocabulary exactly as the artifact spells it (sheet DATES,
  // distinct values extracted from the xlsx's sharedStrings — note the
  // SPACE in "سه شنبه"/"پنج شنبه", not ZWNJ)
  private val jMonthFa = Seq("فروردین", "اردیبهشت", "خرداد", "تیر",
    "مرداد", "شهریور", "مهر", "آبان", "آذر", "دی", "بهمن", "اسفند")
  private val jSeasonFa = Seq("بهار", "تابستان", "پاییز", "زمستان")
  private val jWeekdayFa = Seq("شنبه", "یکشنبه", "دوشنبه", "سه شنبه",
    "چهارشنبه", "پنج شنبه", "جمعه")

  private def lookup(idx: org.apache.spark.sql.Column,
                     names: Seq[String]): org.apache.spark.sql.Column =
    names.zipWithIndex.foldLeft(lit("")) { case (acc, (n, i)) =>
      when(idx === (i + 1), lit(n)).otherwise(acc)
    }

  /** [[generate]] reshaped to the reference's Power BI artifact
    * (full-dimdate-pb.xlsx, sheet DATES, columns A–R): the exact 18
    * headers in order — `Miladi` appears twice, as in the sheet — with
    * the artifact's English/Farsi display strings. The xlsx stores
    * Miladi as an Excel date serial; the CSV export uses ISO dates,
    * the lossless text form of the same value. */
  def biFrame(spark: SparkSession, start: String, end: String): DataFrame =
    // sort BEFORE the rename: the output has two `Miladi` columns, so a
    // later orderBy("Miladi") would be ambiguous; projection + coalesce
    // preserve the range-partitioned order into the single file
    generate(spark, start, end).orderBy("miladi").select(
        col("miladi"),
        col("jalali"),
        format_string("%d/%d/%d",
          col("jyear"), col("jmonth"), col("jday")),
        col("miladi"),
        col("jyear").cast("string"),
        col("mmonth"),
        col("jmonth"),
        col("mmonth_name"),
        lookup(col("jmonth"), jMonthFa),
        when(col("mnime") === 1, "First Half of Year")
          .otherwise("Second Half of Year"),
        when(col("jnime") === 1, "نیمه اول سال").otherwise("نیمه دوم سال"),
        col("jquarter"),
        lookup(col("jquarter"), jSeasonFa),
        col("mquarter"),
        lookup(col("jweek_day"), jWeekdayFa),
        col("mweek_day"),
        col("mweek_num"),
        col("jweek_num"))
      .toDF("Miladi", "Jalali_1", "Jalali_2", "Miladi", "jyear",
        "mmonthN", "jmonthN", "mmonthT", "jmonthT", "mnime", "jnime",
        "JquarterN", "JQuarterT", "MquarterN", "JWeekDay", "MWeekDay",
        "MWeekNum", "JWeekNum")

  /** Write the BI dim-date as ONE UTF-8 CSV with the artifact's header
    * row — the importable replacement for full-dimdate-pb.xlsx (Power
    * BI reads CSV natively). coalesce(1): a 40k-row dimension is one
    * file by design; the generation itself is distributed. */
  def exportBiCsv(spark: SparkSession, start: String, end: String,
                  outPath: String): Unit =
    biFrame(spark, start, end)
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(outPath)
}

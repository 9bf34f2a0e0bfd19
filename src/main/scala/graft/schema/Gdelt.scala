package graft.schema

import org.apache.spark.sql.types._

/** GDELT 2.0 event schema: 58 fixed columns, injected (never inferred) into
  * every stage — mirrors the reference's config-driven column list
  * (reference: config/settings.example.yaml:8-67, conversion/converter.py:67).
  *
  * Physical types after conversion (converter.py:225-227, 246-250): 22
  * columns pass `pd.to_numeric(errors="coerce")` in the reference; of those,
  * the 3 date-ints (Year / MonthYear / Day, the reference converter's
  * `_DATE_INT_COLS`) become nullable long so flat daily files and the
  * Hive-partitioned historical tree share one union schema, and the
  * remaining 19 become double (→ our `try_cast(DoubleType)`, null on parse
  * failure). Everything else stays string.
  */
object Gdelt {

  /** Ordered 58-column list (settings.example.yaml:8-67). */
  val columns: Seq[String] = Seq(
    "GlobalEventID", "Day", "MonthYear", "Year", "FractionDate",
    "Actor1Code", "Actor1Name", "Actor1CountryCode", "Actor1KnownGroupCode",
    "Actor1EthnicCode", "Actor1Religion1Code", "Actor1Religion2Code",
    "Actor1Type1Code", "Actor1Type2Code", "Actor1Type3Code",
    "Actor2Code", "Actor2Name", "Actor2CountryCode", "Actor2KnownGroupCode",
    "Actor2EthnicCode", "Actor2Religion1Code", "Actor2Religion2Code",
    "Actor2Type1Code", "Actor2Type2Code", "Actor2Type3Code",
    "IsRootEvent", "EventCode", "EventBaseCode", "EventRootCode", "QuadClass",
    "GoldsteinScale", "NumMentions", "NumSources", "NumArticles", "AvgTone",
    "Actor1Geo_Type", "Actor1Geo_FullName", "Actor1Geo_CountryCode",
    "Actor1Geo_ADM1Code", "Actor1Geo_Lat", "Actor1Geo_Long",
    "Actor1Geo_FeatureID",
    "Actor2Geo_Type", "Actor2Geo_FullName", "Actor2Geo_CountryCode",
    "Actor2Geo_ADM1Code", "Actor2Geo_Lat", "Actor2Geo_Long",
    "Actor2Geo_FeatureID",
    "ActionGeo_Type", "ActionGeo_FullName", "ActionGeo_CountryCode",
    "ActionGeo_ADM1Code", "ActionGeo_Lat", "ActionGeo_Long",
    "ActionGeo_FeatureID",
    "DATEADDED", "SOURCEURL"
  )

  /** Columns coerced string→double on ingest (settings.example.yaml:70-92). */
  val numericColumns: Set[String] = Set(
    "GlobalEventID", "FractionDate", "IsRootEvent", "QuadClass",
    "GoldsteinScale", "NumMentions", "NumSources", "NumArticles", "AvgTone",
    "Actor1Geo_Type", "Actor1Geo_Lat", "Actor1Geo_Long",
    "Actor2Geo_Type", "Actor2Geo_Lat", "Actor2Geo_Long",
    "ActionGeo_Type", "ActionGeo_Lat", "ActionGeo_Long",
    "DATEADDED"
  )

  /** Columns normalized to nullable long for flat∪Hive schema consistency
    * (converter.py:47-49,246-250). */
  val intColumns: Set[String] = Set("Year", "MonthYear", "Day")

  /** Ingest schema: TSV read with every column of `cols` as string, in
    * order (converter.py:214-223). */
  def rawSchema(cols: Seq[String]): StructType =
    StructType(cols.map(StructField(_, StringType, nullable = true)))

  /** Default filter-stage check columns (settings.example.yaml:153-165). */
  val defaultFilterColumns: Seq[String] = Seq(
    "GlobalEventID", "Actor1Name", "Actor2Name", "QuadClass",
    "Actor1Geo_Lat", "Actor1Geo_Long", "Actor2Geo_Lat", "Actor2Geo_Long",
    "ActionGeo_Lat", "ActionGeo_Long", "Day"
  )

  /** Hive partition rules by file period (settings.example.yaml:143-149). */
  val partitionRules: Map[String, Seq[String]] = Map(
    "yearly"  -> Seq("Year"),
    "monthly" -> Seq("Year", "MonthYear")
  )
}

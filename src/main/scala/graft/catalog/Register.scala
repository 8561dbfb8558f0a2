package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.schema.Ddl

/** Catalog registration — executes the inferred schema as an external
  * table (SURVEY.md §2 op #9, M1).
  *
  * The reference only ''renders'' the DDL string and hands it to a
  * downstream processor (`CreateHQL.scala:94-99`); here we both render the
  * Hive-flavored statement (for parity / external metastores) and execute a
  * Spark-SQL equivalent against the session catalog. `ROW FORMAT SERDE`
  * requires Hive support, so the executable path uses `USING JSON` with the
  * same schema + location; with `enableHiveSupport()` the Hive statement
  * itself can be executed instead (kept behind `hiveMode` — offline test
  * env has no metastore service, SURVEY.md §7.4) with the shipped
  * [[graft.hive.JsonLineSerDe]] in place of the absent hcatalog serde.
  */
object Register {

  /** Render + execute. Returns the Hive-flavored DDL string (the
    * reference's output artifact). */
  def externalJsonTable(
      spark: SparkSession,
      schema: StructType,
      name: String,
      location: String,
      hiveMode: Boolean = false): String = {
    val hiveDdl = Ddl.createExternalTable(schema, name, location)
    if (hiveMode) {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(Ddl.createStatement(schema, name, location,
        serde = classOf[graft.hive.JsonLineSerDe].getName))
    } else {
      Ddl.createTableSparkSql(schema, name, location).foreach(spark.sql(_))
    }
    hiveDdl
  }
}

package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** T5 — schema-align cast operator.
  *
  * The reference casts implicitly at every sink boundary: string→date/
  * timestamp/int for change-feed documents, double→decimal for money columns
  * (sink `input()` block `dataflow/New_BookingTransformation.json:142-168` vs
  * source `:46-69`), and CSV strings→dim types with truncation allowed
  * (`pipeline/New_LoadCustomerDim.json:94-101`). We make that one explicit,
  * reusable operator.
  *
  * Scale note: `cast` is a codegen'd Catalyst expression — the projection
  * stays inside WholeStageCodegen and adds no shuffle; column pruning drops
  * unselected source columns at the scan.
  */
object Align {

  /** Project `df` onto `schema`: select the schema's columns in order, casting
    * each to its declared type. Columns missing from `df` surface as typed
    * nulls (schema drift tolerated, like the reference's
    * `allowSchemaDrift: true`). Extra input columns are pruned.
    */
  def alignTo(df: DataFrame, schema: StructType): DataFrame = {
    val present = df.columns.toSet
    val cols = schema.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }
}

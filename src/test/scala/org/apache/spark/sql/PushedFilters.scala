package org.apache.spark.sql

import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.datasources.DataSourceStrategy

/** The data-source filters a file scan pushes into its reader — the entries
  * of its `PushedFilters` (the translation is `private[sql]`).
  */
object PushedFilters {
  def of(scan: FileSourceScanLike): Seq[sources.Filter] =
    scan.dataFilters.flatMap(DataSourceStrategy.translateFilter(_, true))
}

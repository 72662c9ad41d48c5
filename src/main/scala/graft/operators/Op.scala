package graft.operators

import graft.Tables

/** One operator key: its Spark plan and, beside it, the DuckDB SQL whose
  * result must hash-equal the plan's on the same parquet tables. `None`
  * marks a key whose output is engine-specific (sketches, approximate
  * search, data-dependent iteration): property tests in `src/test`
  * cover it instead. */
final case class Op(key: String, build: Tables.Q, oracle: Option[String])

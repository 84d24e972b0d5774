package graft
package contract

/** One driver-contract query: `build` plans it on the engine against an
  * sf directory, `oracle` is the DuckDB SQL that must return the same
  * rows from the same parquet tables (tools/check.py). */
final case class ContractQuery(name: String, build: Bench.Query, oracle: String)

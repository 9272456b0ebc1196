package graft

/** Operator library over the driver fixture tables (SURVEY.md §2).
  *
  * ==Cache lifecycle contract==
  *
  * Query builders in this package persist multi-consumer intermediates
  * (LSH band tables, candidate-pair sets, centroid/assignment relations,
  * ranked edge lists) so one expensive sub-plan is computed once per query
  * instead of once per consumer. Those persisted relations usually remain
  * referenced by the RETURNED DataFrame's lineage, so the builder cannot
  * unpersist them itself — doing so before the caller's first action would
  * discard exactly the reuse the persist buys (builders that fully consume
  * a cache internally, e.g. [[graft.ops.Dedup]]'s resolution union-find,
  * do unpersist it).
  *
  * The contract for library consumers: after materializing a query's
  * result (collect / write / count), call `spark.catalog.clearCache()`
  * before the next query if the session is long-lived. `graft.Bench`
  * and `graft.Verify` both do this between queries; a consumer that
  * never clears accumulates cached blocks in executor storage memory
  * until LRU eviction — correct but memory-pressuring on a shared
  * cluster.
  *
  * Builders that persist also materialize the cache eagerly (`.count()`
  * after `.persist()`) whenever the relation feeds two consumers inside
  * one downstream action — otherwise both consumers race to compute the
  * not-yet-cached lineage concurrently and the persist saves nothing
  * (observed as 2× run-to-run flapping in knnRecall/apssPairsCapped).
  */
package object ops

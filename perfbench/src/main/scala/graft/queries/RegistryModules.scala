package graft.queries

/** The registry's query names per module, for the benchmark's per-module
  * time sums (the module objects are private to this package). */
object RegistryModules {
  def all: Seq[(String, Set[String])] = Seq(
    "relational" -> Relational.queries.keySet,
    "dedup" -> TrainingDedup.queries.keySet,
    "similarity" -> TrainingSimilarity.queries.keySet,
    "text" -> TrainingText.queries.keySet,
    "curation" -> TrainingCuration.queries.keySet,
    "stats" -> TrainingStats.queries.keySet)
}

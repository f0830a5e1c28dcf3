package graft.streaming

import graft.ops.CatalogDocs

/** The reference's ETL loop over its OWN catalog schema (etl/main.py:357-385:
  * movies / genres / persons pipelines back to back, each with its own state
  * key) — the seed-parity counterpart of [[ReferenceEtl]], which re-expresses
  * the same tick over the TPC-H-shaped driver tables.
  *
  * The movies change feed is the reference's three disjunctive watermark
  * predicates (etl/main.py:35) folded into one (id, modified) stream; each
  * pipeline rebuilds FULL documents for dirty ids (the reference's
  * filter-before-group bug fixed, SURVEY T4) and advances its watermark only
  * after the sink commit. The seed's all-identical timestamps exercise the
  * T3 strictly-greater tie-break: tick 1 picks everything, tick 2 is a
  * clean zero, no starvation.
  */
class CatalogEtl(catalogDir: String, workDir: String) extends ThreeIndexEtl(workDir,
  ((s, ids) => CatalogDocs.movieDocs(s, catalogDir, Some(ids)),
    CatalogDocs.movieChanges(catalogDir)),
  ((s, ids) => CatalogDocs.genreDocs(s, catalogDir, Some(ids)),
    CatalogDocs.genreChanges(catalogDir)),
  ((s, ids) => CatalogDocs.personDocs(s, catalogDir, Some(ids)),
    CatalogDocs.personChanges(catalogDir)))

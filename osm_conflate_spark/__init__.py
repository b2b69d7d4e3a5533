"""osm_conflate_spark — a from-scratch PySpark-native conflation + web-text
analytics engine with the query/data-processing capabilities of
``mapsme/osm_conflate`` (reference at /root/reference, empty at build time;
semantics reconstructed in SURVEY.md).

Layout:
  config.py            Profile-equivalent configuration (SURVEY §3 SRC1)
  functions/geo.py     distance X1, cell index S1, k-ring, z12 tiles X8
  functions/sqlgen.py  shared SQL expression templates (Spark expr == oracle SQL)
  functions/tags.py    tag transform F2/F5, tag merge X2 (map-typed column ops)
  functions/text.py    language-id, quality score, token count, fingerprint
  functions/vectors.py cosine similarity / ANN helpers
  sources/extract.py   U1 Arrow-vectorized html→text extractor (frozen)
  operators/candidates.py  J1 cell equi-join candidate search
  operators/match.py       J2 exact distributed greedy matcher (applyInPandas)
  operators/dedup.py       D1/D2 + minhash/simhash/ngram/embedding near-dup
  operators/changes.py     X2/X3/X4, J4/J5/J6 change emission, osc X5, geojson X6
  operators/similarity.py  ANN top-k over embeddings
  plans/pipeline.py    E1 end-to-end conflation pipeline (stage DAG)
  plans/lineage.py     checkpoint/resume manifests + per-partition lineage
  reference_model.py   pure-Python oracle of the reference semantics (test-only)
  gen.py               deterministic fixture/bench data generators (FIXTURES.md)
"""

__version__ = "0.1.0"

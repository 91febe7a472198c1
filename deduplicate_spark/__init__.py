"""deduplicate_spark — a PySpark-native near-duplicate detection & clustering engine.

A from-scratch re-expression of the capabilities of ``sodrew/deduplicate``
(reference: /root/reference, a single-process Python + SQLite file deduper)
as a distributed Spark DataFrame pipeline over multi-turn conversation
transcripts:

    transcripts(conv_id, turn_idx, role, text, tool, ts)
      -> stage 0 assemble   (turns -> docs)                 operators/assembly.py
      -> stage 1 exact      (sha groupBy cascade)           pipeline.exact_star_edges
      -> stage 2 minhash    (shingle + MinHash signatures)  operators/minhash.py
      -> stage 3 lsh        (banding -> candidate pairs)    operators/lsh.py
      -> stage 4 confirm    (SimHash hamming / LCS)         operators/simhash.py, operators/substring.py
      -> stage 5 cluster    (connected components)          operators/components.py
      -> stage 6 resolve    (canonical election + actions)  operators/resolve.py

The reference's semantics that we preserve (see SURVEY.md for the full map):
  * layered cheap-to-expensive fingerprint cascade (dupe_analysis.py:367-407)
  * collision-group prefilter: only multi-member groups advance (dupe_analysis.py:391-407)
  * cluster = equivalence class of the configured fingerprint level (dupe_analysis.py:622-650)
  * canonical-representative "keep one, delete rest" resolution (deduplicate.py:576-631)
  * memoized / resumable analysis (dupe_analysis.py:38-43, 99-158) -> checkpoint store
"""

__version__ = "0.1.0"

from deduplicate_spark.config import DedupConfig  # noqa: F401

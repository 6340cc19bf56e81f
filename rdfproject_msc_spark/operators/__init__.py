"""Large-scale training-data-pipeline operators (north-star extensions).

Beyond reference parity, each designed for the 100 TB path (joins not driver
maps, built-in functions not row UDFs, Arrow-batched Pandas UDFs where Python
is unavoidable):

- ``dedup``      exact / MinHash-LSH / SimHash / n-gram Jaccard near-dup
- ``similarity`` cosine top-k, hyperplane-LSH ANN, cosine near-dup pairs
- ``textstats``  quality scores, language ID, fingerprints, token counts
- ``decontam``   benchmark decontamination via word-n-gram overlap
- ``lmscore``    unigram LM quality scoring (per-doc surprisal)
- ``hashvec``    feature-hashing vectorizer (text → hashed-TF embedding)
- ``bm25``       zero-shuffle BM25 lexical top-k retrieval
- ``multimodal`` binary payload + typed metadata; mapInPandas decode stages
- ``asof``       temporal as-of join (one-shuffle union+window)
- ``skew``       salted joins for hot keys
"""

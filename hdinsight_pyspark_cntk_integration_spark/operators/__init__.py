"""Operator families (SURVEY.md §2 inventory + §2.7 additions).

relational  — joins/aggs/windows/pivot/set-ops incl. the reference's
              evaluation queries (accuracy R1-R4, distinct R5, dim join R6,
              confusion pivot R7)
scoring     — batch model inference via mapInArrow (M1/M2 + P1-P5 chain)
dedup       — exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding near-dup
similarity  — brute-force / LSH-bucketed cosine top-k over embeddings
text        — language-ID, quality scoring, token stats, fingerprinting
multimodal  — binary media columns: decode/resize/perceptual-hash plumbing
pipeline    — deterministic train/val/test splits, mixture sampling,
              concat-and-chunk sequence packing, BPE-ish token counts
"""

"""DataFrame-level operators.

- ``nms.py``          spatial NMS / overlap joins over bbox DataFrames (D4/J1-J3)
- ``dedup.py``        training-data dedup: exact, minhash-LSH, simhash, n-gram
                      Jaccard (the reference's D1 generalized to corpus scale)
- ``similarity.py``   embedding similarity search (brute-force + LSH-bucketed)
- ``text_stats.py``   language-ID, quality scoring, token counts, fingerprints
- ``multimodal.py``   binary-column plumbing for image/audio payloads (PNG and
                      JPEG decode for real; other formats get a status)
"""

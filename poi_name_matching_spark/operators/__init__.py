"""DataFrame-level pipeline stages.

    signatures  — transcripts → per-conversation canonical entity signature
    blocking    — signatures → block keys → deduped candidate pairs
    scoring     — candidate pairs → full similarity-feature struct + score
    clustering  — thresholded edges → connected components (entity clusters)
    evaluation  — (label, score) → confusion counts, P/R/F1/MCC
    restricted  — restricted soft-TFIDF over a per-pair gathered corpus
    ml          — ML ensemble over the similarity feature matrix
"""

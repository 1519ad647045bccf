"""DuckDB oracle fragments shared by several query modules.

Registers no queries.  Every fragment starts on whitespace and ends on whitespace
or on a CTE's closing parenthesis (so a following comma stays attached),
and an oracle that splices one in reads token-for-token like the inline
SQL it replaces.
"""

from __future__ import annotations

from fs2_kinesis_firehose_spark.operators import similarity as S


def vector_sql(v) -> str:
    """A float vector as a DuckDB list literal of repr-exact doubles."""
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


# Exact word-3-gram Jaccard over ``documents`` (operators/dedup.py's
# shingling): per-doc distinct shingle lists (sh), one row per shingle
# (toks) and each list's size (sizes).
SHINGLES = """
    SELECT doc_id,
           list_distinct([array_to_string(words[i:i+2], ' ')
                          FOR i IN range(1, len(words) - 1)]) AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
"""

SHINGLE_CTES = f"""
    sh AS ({SHINGLES}),
    toks AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh)"""

# SHINGLE_CTES plus the shared-shingle count of every doc pair key1 < key2
PAIR_CTES = f"""{SHINGLE_CTES},
    common AS (
        SELECT a.doc_id AS key1, b.doc_id AS key2, COUNT(*) AS common
        FROM toks a JOIN toks b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""

# each pair of ``common`` beside both set sizes (s1, s2)
SIZED_PAIRS = """
    FROM common c
    JOIN sizes s1 ON c.key1 = s1.doc_id
    JOIN sizes s2 ON c.key2 = s2.doc_id
"""

JACCARD = "common * 1.0 / (s1.sz + s2.sz - common)"

# the J >= 0.7 near-duplicate doc pairs of PAIR_CTES
NEAR_DUP_PAIRS = f"""
    SELECT key1, key2
    {SIZED_PAIRS}
    WHERE {JACCARD} >= 0.7
"""


# The seeded IVF centroids (64 dims, 16 cells) as literals, for the oracles
# that replay ivf_assign / ivf_probe_cells.
_CELLS = S.seeded_centroids(64, 16, seed=7, scale=0.125)
CELLS_SQL = "[" + ", ".join(vector_sql(c) for c in _CELLS) + "]"


def cell_dists(vec: str) -> str:
    """List of ``vec``'s distance to every seeded centroid, less the ‖vec‖²
    term argmin ignores: ‖c‖² − 2·vec·c, in ivf_assign's fold order."""
    return "[" + ", ".join(
        f"{S._seq_sq_norm(c)!r} - 2.0 * list_inner_product({vec}, {vector_sql(c)})"
        for c in _CELLS
    ) + "]"


def probe_cells(vec: str, nprobe: int) -> str:
    """1-based positions of ``vec``'s ``nprobe`` nearest seeded centroids."""
    return f"list_grade_up({cell_dists(vec)})[1:{nprobe}]"


def cell_pos(vec: str) -> str:
    """1-based position of ``vec``'s nearest seeded centroid."""
    return f"list_position({cell_dists(vec)}, list_min({cell_dists(vec)}))"

"""Column-level function surface of the engine.

Three families, split by where they execute:

- :mod:`gipspark.functions.text` — HTML text extraction + geotagging as
  vectorized pandas kernels (regex-heavy, Python-side by necessity; the
  enrich pass runs them in one fused ``mapInPandas``),
  plus JVM-side text-analysis Columns (token counts, quality, lang-id,
  fingerprints) that never leave whole-stage codegen.
- :mod:`gipspark.functions.cells` — S2/H3 cell indexing pandas UDFs over
  the vendored NumPy kernels, and the JVM-side S2 parent and GIPS-style
  graticule tile id.
- :mod:`gipspark.functions.vectors` — embedding similarity expressions
  (dot/cosine) built from higher-order functions, JVM-side.

Every JVM-side builder has a matching ``*_SQL`` template so the DuckDB
oracle can run the textually-identical computation (SURVEY.md §5.2).
"""

from gipspark.functions.cells import (  # noqa: F401
    cell_center_latlng,
    h3_cell,
    kring,
    s2_cell,
    s2_parent,
    tile_of,
    TILE_SQL,
)
from gipspark.functions.text import (  # noqa: F401
    doc_fingerprint,
    extract_text_py,
    lang_id,
    quality_score,
    token_count,
)
from gipspark.functions.vectors import cosine_sim, dot_product, l2_norm  # noqa: F401

"""Reusable column-expression builders (all JVM-side, no UDFs).

Split by domain:

- :mod:`fixed`    — fixed-point SQL text: half-up cents
  (``cents_sql``) and DECIMAL(38,0)-widened basis-point ratios
  (``scaled_ratio_sql``), the rules that keep money columns
  hash-identical to the DuckDB oracles.
- :mod:`hashing`  — cross-engine-deterministic hashes (md5-derived
  integers, polynomial rolling hash) used by dedup/fingerprint ops.
- :mod:`text`     — tokenization / shingling expression builders.
- :mod:`vectors`  — embedding dot/norm/cosine via higher-order
  functions (index-ordered, so DuckDB oracles match bit-for-bit).

Every helper returns a pyspark Column built only from built-in
``pyspark.sql.functions``, or (``fixed``) SQL text for ``F.expr`` —
they inline into whole-stage codegen and never leave the JVM, which
is the 100 TB hot-path requirement.
"""

from ensembl_lakehouse_spark.functions.hashing import (  # noqa: F401
    md5_long31,
    md5_long60,
    rolling_hash,
)
from ensembl_lakehouse_spark.functions.text import (  # noqa: F401
    bpe_tokens,
    normalize_text,
    whitespace_tokens,
    word_shingles,
)
from ensembl_lakehouse_spark.functions.vectors import (  # noqa: F401
    cosine_similarity,
    dot_product,
    l2_norm,
)

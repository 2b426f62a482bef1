"""The engine's ONE deterministic acceptance/assignment bucket.

Every stateless rate filter and split stamp in the engine draws from
the same primitive: ``bucket = conv(first-8-hex(md5(salt || key)),
16, 10) % mod`` — a pure scan-stage expression (no RNG state, no
count pass), so membership is identical on rerun/resume and stable
under corpus growth.

Centralized here (round-6 review) because three call sites had
hand-rolled the same expression: the next drift — a widened
substring, or a forgotten salt in a fourth copy — would silently
re-correlate stacked rate filters, the exact failure mode the
stage-unique salts fixed (stacked decisions on ONE bucket compose as
min, not as independent products; see curation.stamp_split's
docstring).

Salting contract: any stage whose keep/assign decision stacks on the
same key as another stage in a composed chain MUST pass a
stage-unique ``salt``. An unsalted call is reserved for a stage whose
exact formula an external oracle pins (e.g. temperature sampling,
operators.mixture.temperature_keep).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def salted_bucket(key: Column | str, mod: int, salt: str = "") -> Column:
    """Uniform bucket in [0, mod) from ``md5(salt || key)``.

    ``key`` is cast to string first (unifies string and numeric ids —
    BIGINT -> BINARY throws under ANSI mode), then to binary for md5;
    the first 8 hex chars give 32 uniform bits, exact in int64."""
    col = F.col(key) if isinstance(key, str) else key
    col = col.cast("string")
    if salt:
        col = F.concat(F.lit(salt), col)
    return (
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10)
        .cast("long") % int(mod)
    )

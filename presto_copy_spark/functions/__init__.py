"""Presto-compatibility function layer (SURVEY §2.9).

- compat.py / geometry.py — Presto-named scalar functions whose semantics
  are a pure Spark SQL expression, declared as SQL macros (``SQL_UDFS``,
  ``SQL_GEOMETRY_UDFS``; one table here, ``MACROS``).  Each is created
  with ``CREATE OR REPLACE TEMPORARY FUNCTION`` and inlined into Catalyst
  plans (JVM-side, no Python round-trip).
- ml_sql.py / stats.py and the ``_register_*_py`` helpers below — the
  names with no Spark expression, as Arrow-batched pandas UDFs.
- presto.py — Column helpers for functions whose argument conventions
  need build-time translation (datetime unit-first args, MySQL formats)
  and Presto-named aggregates.

Creating the 211 macros costs seconds of cold parsing and analysis per
session, so macros are created per name by ``ensure_macros``: all at once
by ``register_all`` (registry builders, ``bench.py``, tests), or on first
reference by ``Engine.sql`` — the analogue of Presto resolving
SQL-invoked functions from its namespace manager when a query names them
(AbstractSqlInvokedFunctionNamespaceManager).
"""

from __future__ import annotations

import weakref
from collections.abc import Iterable
from graphlib import TopologicalSorter

from pyspark.sql import SparkSession

from ..dialect import tokenize
from .compat import SQL_UDFS
from .geometry import SQL_GEOMETRY_UDFS
from .ml_sql import register_ml_sql
from .stats import register_stats_sql
from . import presto

__all__ = [
    "register_all",
    "ensure_macros",
    "macro_names_in",
    "MACROS",
    "MACRO_DEPS",
    "SQL_UDFS",
    "presto",
]

# Every SQL macro: name -> (argument signature, return type, body).
MACROS: dict[str, tuple[str, str, str]] = {**SQL_UDFS, **SQL_GEOMETRY_UDFS}


def macro_names_in(sql: str) -> set[str]:
    """The ``MACROS`` names among the word tokens of ``sql`` (string
    literals never match; Spark's backquoted names tokenize as words)."""
    return {tok.lower() for kind, tok in tokenize(sql) if kind == "word"} & MACROS.keys()


# name -> the macros its body calls.  Spark validates a body when it is
# created, so these must exist first.
MACRO_DEPS: dict[str, frozenset[str]] = {
    name: frozenset(macro_names_in(body) - {name})
    for name, (_sig, _ret, body) in MACROS.items()
}

# Creation rank of every macro, dependencies first (a cycle raises here).
_RANK = {
    name: i
    for i, name in enumerate(TopologicalSorter(MACRO_DEPS).static_order())
}

# SparkSession -> names of the macros created in it.  A sibling session
# from spark.newSession() has its own function registry and its own
# entry here.
_CREATED: weakref.WeakKeyDictionary[SparkSession, set[str]] = (
    weakref.WeakKeyDictionary()
)


def ensure_macros(spark: SparkSession, names: Iterable[str]) -> list[str]:
    """Create the macros among ``names`` (keys of ``MACROS``) that
    ``spark`` lacks, with their transitive dependencies, dependencies
    first.  Returns the names created, in creation order.

    A macro captures the SQL confs in force when it is created
    (``spark.sql.ansi.enabled``, ``spark.sql.session.timeZone``, ...).
    A body Spark rejects raises; the name stays missing."""
    created = _CREATED.setdefault(spark, set())
    todo: set[str] = set()
    stack = [n for n in names if n not in created]
    while stack:
        name = stack.pop()
        if name not in todo and name not in created:
            todo.add(name)
            stack.extend(MACRO_DEPS[name])
    out = []
    for name in sorted(todo, key=_RANK.__getitem__):
        sig, ret, body = MACROS[name]
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig})"
            f" RETURNS {ret} RETURN {body}"
        )
        created.add(name)
        out.append(name)
    return out


def register_all(spark: SparkSession, *, macros: bool = True) -> None:
    """Register the compat surface on ``spark``: the pandas UDFs, plus
    every SQL macro unless ``macros`` is false.

    Registry builders, ``bench.py`` and tests call this (the eager
    path).  ``Engine`` passes ``macros=False`` and ``Engine.sql`` creates
    the macros a statement names on first reference.

    Idempotent: queries may call this defensively (the driver invokes
    registry callables standalone), but re-registering the UDFs per
    invocation costs real time and spams "function replaced" warnings
    (r3 func_specialty regression 0.11 -> 0.35 s), so repeat calls on
    the same live session are no-ops.
    """
    # Dedupe on a SESSION-scoped conf marker, not applicationId alone:
    # sibling sessions from spark.newSession() share one applicationId
    # but have separate function registries and isolated SQLConf, so a
    # runtime conf set here is visible exactly to the sessions that
    # already ran registration.
    marker = "spark.presto_copy.pandas_udfs_registered"
    if spark.conf.get(marker, None) != "true":
        register_ml_sql(spark)
        register_stats_sql(spark)
        _register_normalize(spark)
        _register_binary_py(spark)
        _register_color_py(spark)
        _register_sketch_py(spark)
        spark.conf.set(marker, "true")
    if macros:
        ensure_macros(spark, MACROS)


def _register_color_py(spark: SparkSession) -> None:
    """ANSI display family as SQL names (ColorFunctions.java color /
    render / bar): non-literal args route here (literal calls are
    constant-folded by the dialect via the same Python ports).
    Arrow-batched pandas UDFs — display functions, never a hot path."""
    from pyspark.sql import functions as F

    from .presto import _py_color, py_bar, py_render

    def _pdudf(ret, fn):
        @F.pandas_udf(ret)
        def _udf(*cols):
            import pandas as pd

            return pd.Series(
                [
                    None if any(v is None for v in vals) else fn(*vals)
                    for vals in zip(*cols)
                ]
            )

        return _udf

    spark.udf.register("color", _pdudf("bigint", lambda s: _py_color(str(s))))
    spark.udf.register(
        "render", _pdudf("string", lambda t, c: py_render(str(t), int(c)))
    )
    spark.udf.register(
        "bar",
        _pdudf(
            "string",
            lambda p, w, lo, hi: py_bar(float(p), int(w), int(lo), int(hi)),
        ),
    )


def _register_binary_py(spark: SparkSession) -> None:
    """Binary functions with no JVM-side Spark expression
    (BinaryFunctions.java to/fromIEEE754, hmacSha*/hmacMd5;
    IpPrefixFunctions.java isPrivateIp): Arrow-batched pandas UDFs over
    stdlib struct/hmac/ipaddress — off the hot path by design."""
    from pyspark.sql import functions as F

    def _pdudf(ret, fn):
        @F.pandas_udf(ret)
        def _udf(*cols):
            import pandas as pd

            return pd.Series(
                [
                    None if any(v is None for v in vals) else fn(*vals)
                    for vals in zip(*cols)
                ]
            )

        return _udf

    import hmac as _hmac
    import ipaddress as _ip
    import struct as _struct

    spark.udf.register(
        "to_ieee754_64", _pdudf("binary", lambda x: _struct.pack(">d", float(x)))
    )
    spark.udf.register(
        "from_ieee754_64", _pdudf("double", lambda b: _struct.unpack(">d", bytes(b))[0])
    )
    spark.udf.register(
        "to_ieee754_32", _pdudf("binary", lambda x: _struct.pack(">f", float(x)))
    )
    spark.udf.register(
        "from_ieee754_32", _pdudf("double", lambda b: float(_struct.unpack(">f", bytes(b))[0]))
    )
    for alg in ("md5", "sha1", "sha256", "sha512"):
        spark.udf.register(
            f"hmac_{alg}",
            _pdudf(
                "binary",
                lambda b, k, _alg=alg: _hmac.new(bytes(k), bytes(b), _alg).digest(),
            ),
        )
    import base64 as _b64

    spark.udf.register(
        "to_base32", _pdudf("string", lambda b: _b64.b32encode(bytes(b)).decode())
    )
    spark.udf.register(
        "from_base32", _pdudf("binary", lambda s: _b64.b32decode(s))
    )

    # FNV-1 / FNV-1a (public-domain spec: offset-basis/prime constants)
    def _fnv(data: bytes, bits: int, variant_a: bool) -> int:
        if bits == 32:
            h, prime, mask = 0x811C9DC5, 0x01000193, 0xFFFFFFFF
        else:
            h, prime, mask = 0xCBF29CE484222325, 0x100000001B3, (1 << 64) - 1
        for byte in bytes(data):
            if variant_a:
                h = ((h ^ byte) * prime) & mask
            else:
                h = ((h * prime) & mask) ^ byte
        if bits == 64 and h >= 1 << 63:
            h -= 1 << 64  # Presto returns the signed BIGINT
        return h

    spark.udf.register("fnv1_32", _pdudf("long", lambda b: _fnv(b, 32, False)))
    spark.udf.register("fnv1_64", _pdudf("long", lambda b: _fnv(b, 64, False)))
    spark.udf.register("fnv1a_32", _pdudf("long", lambda b: _fnv(b, 32, True)))
    spark.udf.register("fnv1a_64", _pdudf("long", lambda b: _fnv(b, 64, True)))

    spark.udf.register(
        "murmur3_x64_128", _pdudf("binary", _murmur3_x64_128)
    )
    # SpookyHash V2 (VarbinaryFunctions.java spookyHashV2_32/64) —
    # pure-Python public-domain algorithm, reference-vector-tested
    from .spooky import spooky_hash_v2_32, spooky_hash_v2_64

    spark.udf.register(
        "spooky_hash_v2_32", _pdudf("binary", lambda b: spooky_hash_v2_32(bytes(b)))
    )
    spark.udf.register(
        "spooky_hash_v2_64", _pdudf("binary", lambda b: spooky_hash_v2_64(bytes(b)))
    )
    # NOTE: ip_prefix / ip_subnet_range / ip_subnet_min / ip_subnet_max /
    # is_subnet_of are NOT registered here anymore: they are generated
    # pure-Catalyst SQL macros in compat.py (IPv4 + IPv6, RFC 5952
    # output) — registering pandas versions over them put an
    # ArrowEvalPython node in every plan that touched the IP surface
    # (the r3 func_specialty regression).
    spark.udf.register(
        "is_private_ip",
        _pdudf(
            "boolean",
            # RFC1918/4193 + loopback + link-local, both families — the
            # range list IpPrefixFunctions.java carries is what stdlib
            # ipaddress classifies via is_private/is_loopback/is_link_local
            lambda s: (lambda a: a.is_private or a.is_loopback or a.is_link_local)(
                _ip.ip_address(s)
            ),
        ),
    )


def _register_sketch_py(spark: SparkSession) -> None:
    """Sketch-introspection scalars over the Datasketches compact-theta
    binary the engine's SetDigest/theta twins emit (round 8; layout
    reader in sketch_layout.py):

    - sketch_theta_summary (ThetaSketchFunctions.java:57)
    - hash_counts (type/setdigest/SetDigestFunctions.java:81)

    Arrow-batched pandas UDFs — sketch binaries are KB-sized aggregate
    OUTPUTS (rows ~ group count, never corpus-sized), so introspection
    is off the hot path by construction."""
    from pyspark.sql import functions as F

    from .sketch_layout import theta_hash_counts, theta_summary

    @F.pandas_udf(
        "struct<estimate:double,theta:double,upper_bound_std:double,"
        "lower_bound_std:double,retained_entries:int>"
    )
    def _summary(col):
        import pandas as pd

        fields = (
            "estimate",
            "theta",
            "upper_bound_std",
            "lower_bound_std",
            "retained_entries",
        )
        # a None input yields an all-null struct row (pandas has no
        # null-struct representation to hand Arrow)
        return pd.DataFrame(
            [
                {} if b is None else dict(zip(fields, theta_summary(bytes(b))))
                for b in col
            ],
            columns=list(fields),
        )

    @F.pandas_udf("map<long,short>")
    def _hash_counts(col):
        import pandas as pd

        return pd.Series(
            [None if b is None else theta_hash_counts(bytes(b)) for b in col]
        )

    spark.udf.register("sketch_theta_summary", _summary)
    spark.udf.register("hash_counts", _hash_counts)


def _register_normalize(spark: SparkSession) -> None:
    """SQL-invocable normalize(string[, form]) (StringFunctions.java
    normalize): Unicode normalization has no JVM-side Spark builtin, so
    the four forms register as Arrow-batched pandas UDFs
    (normalize = NFC default; the dialect rewrites the 2-arg
    literal-form call to the per-form name)."""
    from pyspark.sql import functions as F

    def make(form: str):
        # no parameter type hints: `from __future__ import annotations`
        # stringifies them and pandas_udf's hint inference then rejects
        # the signature; the explicit returnType carries the schema
        @F.pandas_udf("string")
        def _norm(s):
            import unicodedata

            return s.map(
                lambda x: None if x is None else unicodedata.normalize(form, x)
            )

        return _norm

    spark.udf.register("normalize", make("NFC"))
    for form in ("nfc", "nfd", "nfkc", "nfkd"):
        spark.udf.register(f"__normalize_{form}", make(form.upper()))


def _murmur3_x64_128(data) -> bytes:
    """MurmurHash3 x64_128 (Austin Appleby's public-domain reference
    algorithm; HashFunctions.java delegates to the same) — little-endian
    16-byte digest, matching Presto's varbinary output."""
    key = bytes(data)
    m = (1 << 64) - 1
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    h1 = h2 = 0
    length = len(key)

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & m

    def fmix(k):
        k ^= k >> 33
        k = (k * 0xFF51AFD7ED558CCD) & m
        k ^= k >> 33
        k = (k * 0xC4CEB9FE1A85EC53) & m
        k ^= k >> 33
        return k

    nblocks = length // 16
    for i in range(nblocks):
        k1 = int.from_bytes(key[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(key[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (rotl((k1 * c1) & m, 31) * c2) & m
        h1 = ((rotl(h1 ^ k1, 27) + h2) * 5 + 0x52DCE729) & m
        k2 = (rotl((k2 * c2) & m, 33) * c1) & m
        h2 = ((rotl(h2 ^ k2, 31) + h1) * 5 + 0x38495AB5) & m
    tail = key[nblocks * 16 :]
    k1 = k2 = 0
    if len(tail) > 8:
        k2 = int.from_bytes(tail[8:].ljust(8, b"\0"), "little")
        h2 ^= (rotl((k2 * c2) & m, 33) * c1) & m
    if tail:
        k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
        h1 ^= (rotl((k1 * c1) & m, 31) * c2) & m
    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & m
    h2 = (h2 + h1) & m
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & m
    h2 = (h2 + h1) & m
    return h1.to_bytes(8, "little") + h2.to_bytes(8, "little")

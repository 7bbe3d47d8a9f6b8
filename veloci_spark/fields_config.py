"""Reference-shaped index-config loader (JSON or TOML).

A user of the reference engine carries a ``create_index`` fields config —
a map of field path → options, JSON when the string starts with ``{``,
TOML otherwise (/root/reference/src/create/fields_config.rs:96-111
``config_from_string``). This module accepts that exact shape and lowers
it onto :class:`veloci_spark.config.IndexConfig`, so the same file drives
``jobs/build_index_job.py --config``.

Accepted per-field keys (fields_config.rs:62-71 ``FieldConfig``):

* ``facet`` (bool) — accepted; faceting in this engine needs no dedicated
  index for flat fields (counts run against the doc store) and the nested
  value relations are always built for nested paths, so the flag only
  pins the field into the index set.
* ``fulltext`` — ``tokenize`` (bool), ``tokenize_on_chars`` (list of
  1-char strings → per-field separator set, metadata.rs:94-105; longer
  entries are an error),
  ``do_not_store_text_longer_than`` (bytes, default 64, metadata.rs:66-68),
  ``stopwords`` (accepted and ignored: the reference declares the key on
  ``FulltextIndexOptions`` (metadata.rs:54) but never consumes it on the
  create path — query-side stopword removal is where both engines filter).
* ``features`` / ``disabled_features`` — mutually exclusive
  (fields_config.rs:38-44, same error here). ``disabled_features`` is
  lowered as the COMPLEMENT of the feature set — the documented intent;
  the reference's ``Features::invert`` (features.rs:23-39) filters for
  membership instead of against it, which makes ``disabled_features``
  behave identically to ``features`` there (an upstream quirk we do not
  reproduce; a config using it gets a warning).
* ``boost`` — ``{"boost_type": "int"}`` → the field doubles as a
  boost-by-indexed-data source (``boost_from_value``).
* A trailing ``.textindex`` on a key is stripped (fields_config.rs:19-24);
  two keys naming one path after stripping are an error.
* ``*GLOBAL*`` supplies defaults for every path not explicitly configured
  (fields_config.rs:14,26-29); absent, the reference default applies
  (features {Search, TokensToTextID}, tokenize on).

Feature → built-relation lowering: ``PhraseBoost`` gates the phrase-pair
index, ``TokensToTextID``/``BoostTextLocality``/``Highlight``/``WhyFound``/
``Select`` gate the term→text relation, ``Search`` gates the field's
dictionary+postings entirely (a field with Search disabled and no boost/
facet role is simply not indexed). The reference's remaining
``IndexCreationType`` toggles (features.rs:41-80) control id-map files our
parquet layout does not materialize separately, so they have no lowering.
"""

from __future__ import annotations

import json
import warnings
from typing import Iterable

from veloci_spark.config import (
    DEFAULT_MAX_TEXT_STORE_BYTES,
    DEFAULT_SEPARATORS,
    FieldConfig,
    IndexConfig,
)

ALL_FIELD_CONFIG = "*GLOBAL*"
# keys of the CreateIndexConfig wrapper shape (fields_config.rs:6-12)
_WRAPPER_KEYS = frozenset({"fields_config", "do_not_store_document"})

FEATURES = frozenset({
    "All", "TokensToTextID", "BoostTextLocality", "BoostingFieldData",
    "Search", "Filters", "Facets", "Select", "WhyFound", "Highlight",
    "PhraseBoost",
})
DEFAULT_FEATURES = frozenset({"Search", "TokensToTextID"})
_TOKEN_TEXT_FEATURES = frozenset({
    "All", "TokensToTextID", "BoostTextLocality", "Highlight", "WhyFound",
    "Select",
})


def parse_fields_config(text: str) -> dict:
    """Reference ``config_from_string``: JSON iff the string starts with
    ``{``, TOML otherwise. Returns the raw field-path → options map."""
    if text.strip().startswith("{"):
        cfg = json.loads(text)
    else:
        import tomllib

        cfg = tomllib.loads(text)
    if not isinstance(cfg, dict):
        raise ValueError("fields config must be a map of field path -> options")
    # the CreateIndexConfig wrapper shape (fields_config.rs:6-12) carries
    # the map under fields_config plus do_not_store_document; accept it
    # too (the doc store here IS the source table, so the flag is moot).
    # A map with any other key is a flat config, whose field paths may
    # include one literally named fields_config.
    if isinstance(cfg.get("fields_config"), dict) and set(cfg) <= _WRAPPER_KEYS:
        cfg = cfg["fields_config"]
    cfg.pop("do_not_store_document", None)
    bad = [k for k, v in cfg.items() if not isinstance(v, dict)]
    if bad:
        raise ValueError(f"field entries must be option maps; got scalars "
                         f"for {sorted(bad)}")
    return cfg


def _effective_features(raw: dict, path: str) -> frozenset:
    feats = raw.get("features")
    disabled = raw.get("disabled_features")
    if feats is not None and disabled is not None:
        # fields_config.rs:39-44 — same validation, same shape of message
        raise ValueError(
            "features and disabled_features are not allowed at the same "
            f"time in field {path!r}")
    for lst in (feats, disabled):
        if lst is not None:
            unknown = set(lst) - FEATURES
            if unknown:
                raise ValueError(f"unknown features {sorted(unknown)} in "
                                 f"field {path!r}")
    if feats is not None:
        return frozenset(feats)
    if disabled is not None:
        warnings.warn(
            f"field {path!r}: disabled_features is lowered as the complement "
            "of the feature set; the reference engine treats it like "
            "features (Features::invert), so the same config builds a "
            "different index set there", UserWarning, stacklevel=3)
        return FEATURES - frozenset(disabled) - {"All"}
    return DEFAULT_FEATURES


def field_from_config(path: str, raw: dict) -> FieldConfig | None:
    """Lower one field's raw options to a :class:`FieldConfig`; ``None``
    when the options disable every role the field could play (no Search,
    no boost, no facet pin)."""
    feats = _effective_features(raw, path)
    fulltext = raw.get("fulltext") or {}
    boost = raw.get("boost")
    searchable = bool(feats & {"All", "Search"})
    if not searchable and boost is None and not raw.get("facet"):
        return None
    chars = fulltext.get("tokenize_on_chars")
    if chars is not None:
        bad = [c for c in chars if not isinstance(c, str) or len(c) != 1]
        if bad:
            # the reference deserializes a Vec<char>, which rejects these
            raise ValueError(f"tokenize_on_chars entries of field {path!r} "
                             f"must be single characters; got {bad!r}")
    return FieldConfig(
        path,
        tokenize=bool(fulltext.get("tokenize", True)),
        separators="".join(chars) if chars is not None else DEFAULT_SEPARATORS,
        max_text_store_bytes=int(fulltext.get(
            "do_not_store_text_longer_than", DEFAULT_MAX_TEXT_STORE_BYTES)),
        phrase_pairs=bool(feats & {"All", "PhraseBoost"}),
        token_texts=bool(feats & _TOKEN_TEXT_FEATURES),
        boost_from_value=boost is not None,
    )


def _config_for(cfg: dict, path: str) -> dict:
    # fields_config.rs:19-29 — the path's entry (keys arrive with
    # .textindex stripped), else the *GLOBAL* defaults
    return cfg.get(path, cfg.get(ALL_FIELD_CONFIG, {}))


def discover_paths(schema, skip_binary: bool = True) -> list[str]:
    """Leaf field paths of a Spark schema in the reference's path syntax:
    ``.`` for struct nesting, a ``[]`` suffix per array segment
    (json_converter path convention, SURVEY.md §1.1). Scalars of any type
    are included (the engine indexes their text form, as the reference
    stringifies JSON scalars); binary columns are skipped by default —
    they have no JSON analog."""
    from pyspark.sql.types import ArrayType, BinaryType, StructType

    out: list[str] = []

    def walk(prefix: str, dt):
        if isinstance(dt, StructType):
            for f in dt.fields:
                walk(f"{prefix}.{f.name}" if prefix else f.name, f.dataType)
        elif isinstance(dt, ArrayType):
            walk(prefix + "[]", dt.elementType)
        elif isinstance(dt, BinaryType):
            if not skip_binary:
                out.append(prefix)
        else:
            out.append(prefix)

    walk("", schema)
    return out


def index_config_from_string(text: str, paths: Iterable[str],
                             **index_kwargs) -> IndexConfig:
    """The full lowering: reference config text + the input's discovered
    paths → :class:`IndexConfig`. Every path gets its configured options
    (falling back to ``*GLOBAL*``, then reference defaults), mirroring the
    reference's index-everything-unless-configured behavior; configured
    paths absent from the input are ignored, as the reference ignores
    config entries no data path reaches."""
    cfg = parse_fields_config(text)
    norm: dict = {}
    for k, v in cfg.items():
        key = k[:-len(".textindex")] if k.endswith(".textindex") else k
        if key in norm:
            raise ValueError(f"fields config has two entries for {key!r} "
                             "(with and without .textindex)")
        norm[key] = v
    fields = []
    for path in paths:
        fc = field_from_config(path, _config_for(norm, path))
        if fc is not None:
            fields.append(fc)
    if not fields:
        raise ValueError("fields config disables every input path")
    return IndexConfig(fields=tuple(fields), **index_kwargs)

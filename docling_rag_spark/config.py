"""Engine-wide deterministic constants.

Every heuristic threshold lives here so that "byte-identical extracted text
per url" is a pure function of (input row, this module). Values that mirror a
reference contract cite the reference file:line.
"""

# --- PDF text-layer detection (reference: core/parser.py:16-18) -------------
DETECT_MAX_PAGES = 10     # sample at most this many pages, evenly spaced
DETECT_MIN_CHARS = 100    # a page is "texty" if stripped text >= this
DETECT_TEXT_RATIO = 0.5   # digital PDF iff texty_pages / sampled >= this

# --- Chunking (reference: cli/config_loader.py:18, core/chunker.py) ---------
CHUNK_MAX_TOKENS = 512    # token budget per chunk; tables/code are atomic

# --- HTML boilerplate heuristics (from scratch; Boilerpipe/Readability-family)
HTML_MAX_LINK_DENSITY = 0.5   # drop a text block if link chars / chars > this
HTML_MIN_TEXT_CHARS = 25      # drop short fragments unless sentence-like
HTML_DROP_TAGS = frozenset({
    "script", "style", "noscript", "nav", "header", "footer", "aside",
    "form", "button", "svg", "iframe", "select", "option", "template",
    "head", "title",
})
# class/id substrings that mark boilerplate containers
HTML_DROP_HINTS = (
    "nav", "menu", "footer", "sidebar", "banner", "advert", "promo",
    "breadcrumb", "cookie", "share", "social", "related", "comment",
)

# --- Tokenizer ----------------------------------------------------------------
# BPE-ish deterministic counter: words are split into <=8-char pieces, every
# digit-run and punctuation mark is one token. Self-contained (no model files).
TOKEN_PIECE_LEN = 8

# --- Metadata normalization (reference: core/metadata.py:65-83) --------------
NULLISH_STRINGS = ("", "null", "none")
MAX_TAGS = 5

# --- Scale mechanics ----------------------------------------------------------
DEFAULT_NUM_BUCKETS = 64      # url-hash buckets; unit of lineage/resume
# parse-stage width: the extraction job runs exactly this many parse UDF
# tasks per batch, whole buckets round-robin over them, and its chunks /
# extracted / stats derivations read the persisted parse output in the
# same partitions (plans/job.py)
DEFAULT_SALT_PARTITIONS = 32

# --- Embedding (reference: core/embedder.py, dim frozen per model ------------
# db_schema.py:33 pins 1024 to deepvk/USER-bge-m3; the self-contained hashed
# random-projection encoder uses 256 (no model files in this environment).
EMBED_DIM = 256

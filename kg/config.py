"""Pipeline configuration constants.

TAG_QUERIES reproduces the reference's MRC query map
(/root/reference/data/questions.json:1-14 — 3 entity types), with tag keys
lowercased exactly as the reference does at ner/dataset.py:31.
"""

from __future__ import annotations

MAX_LEN = 512  # ner/dataset.py:15

# tag -> natural-language MRC query (data/questions.json:1-14)
TAG_QUERIES: dict[str, str] = {
    "ns": "按照地理位置划分的国家,城市,乡镇,大洲",
    "nt": "组织包括公司,政府党派,学校,政府,新闻机构",
    "nr": "人名和虚构的人物形象",
}

TAGS = sorted(TAG_QUERIES)  # deterministic iteration order everywhere

# Relation-extraction rule (ours to define — the reference ships no RE code;
# pinned by BASELINE.json north_star; SURVEY.md §7.1 step 6): two mentions in
# the same sentence, subject strictly before object, separated by at most
# REL_WINDOW context tokens, yield (subj, 'rel_<tagA>_<tagB>', obj).
REL_WINDOW = 10

# Entity linking (SURVEY.md §7.1 step 7)
SHINGLE_K = 3          # char n-gram size for MinHash shingles
NUM_HASHES = 16        # MinHash signature length
LSH_BANDS = 4          # bands (rows per band = NUM_HASHES // LSH_BANDS)
LINK_JACCARD = 0.5     # verify threshold on exact shingle Jaccard
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1, Mersenne
SALT_BUCKETS = 8       # salting factor for skewed LSH buckets
LSH_MAX_BUCKET = 200   # LSH buckets with more members are dropped (non-discriminative)

KEYPHRASE_TOP_K = 5

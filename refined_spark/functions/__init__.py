from refined_spark.functions.normalize import (  # noqa: F401
    normalize_surface_py,
    normalize_surface_udf,
    normalize_surface_col,
    title_to_key_col,
    remove_wiki_brackets_col,
    qcode_to_int_col,
)
from refined_spark.functions.similarity import (  # noqa: F401
    jaro_winkler_py,
    jaro_winkler_udf,
    cosine_sim_col,
    dot_col,
    l2_norm_col,
)
from refined_spark.functions.hashing import (  # noqa: F401
    md5_hash64_col,
    char_shingles_col,
    simhash64_py,
)

from big_data_lab_three_spark.functions.vector import (  # noqa: F401
    dot,
    l2_norm,
)
from big_data_lab_three_spark.functions.text import (  # noqa: F401
    md5_hex,
    shingles,
    tokens,
)

from owl_n4j_spark.functions.keys import (  # noqa: F401
    normalise_key,
    normalise_phone,
    person_key,
    phone_person_key,
)

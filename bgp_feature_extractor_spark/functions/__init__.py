from bgp_feature_extractor_spark.functions.editdist import with_edit_distance

__all__ = ["with_edit_distance"]

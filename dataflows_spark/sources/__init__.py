from .clips import clips_df, transcripts_side_df

__all__ = ["clips_df", "transcripts_side_df"]

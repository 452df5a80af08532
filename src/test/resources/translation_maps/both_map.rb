# A map name that could also exist as both_map.yaml; a loader that finds
# both reads this .rb file.
{
  "key" => "value from the rb file",
  "rb_only" => "only here"
}

# A declarative Ruby translation map: plain assignments, a hash literal,
# a %w array, one hash mutation, and the hash as the last expression.
foo = "bar"

some_hash = {
  "key1" => "value1",
  "array_key" => %w{one two three},
  "key_to_be_overridden" => "value_from_ruby"
}
some_hash["also"] = "this"

# the file evaluates to its last line, which must be a Hash
some_hash
